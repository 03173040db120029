package perfbench

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.Deflater

/** Seeded synthetic road network, written as an OSM PBF.
  *
  * A jittered street lattice with a road-class hierarchy (residential
  * blocks, secondary every 8th line, primary every 24th), two motorways
  * joined to the lattice by motorway_link ramps, a share of one-way
  * residential ways, mid-block shape nodes, a few missing blocks, and
  * small street islands that are not connected to the mainland (so some
  * snapped pairs are legitimately unroutable).
  */
final case class RoadNet(
    nodeIds: Array[Long], lats: Array[Double], lons: Array[Double],
    ways: Array[RoadNet.Way],
    /** node indices of lattice intersections on the mainland */
    mainland: Array[Int],
    /** node indices of island intersections */
    island: Array[Int]) {
  def numNodes: Int = nodeIds.length
  def numWays: Int = ways.length
  /** Directed edges the auto graph should carry (before zero-time drops). */
  def directedEdges: Long =
    ways.iterator.map(w => (w.refs.length - 1).toLong * (if (w.oneway) 1 else 2)).sum
}

object RoadNet {
  final case class Way(id: Long, highway: String, oneway: Boolean, refs: Array[Int])

  val Lat0 = 45.0
  val Lon0 = 9.0
  /** lattice spacing, metres */
  val SpacingM = 210.0
  val DegLat: Double = SpacingM / 111195.0
  val DegLon: Double = DegLat / math.cos(math.toRadians(Lat0))

  def generate(seed: Long, side: Int): RoadNet = {
    val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 17)
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val lon = scala.collection.mutable.ArrayBuffer.empty[Double]
    def node(la: Double, lo: Double): Int = { lat += la; lon += lo; lat.length - 1 }
    def jit(): Double = (rnd.nextDouble() - 0.5) * 0.45
    val ways = scala.collection.mutable.ArrayBuffer.empty[Way]
    def way(hw: String, oneway: Boolean, refs: Seq[Int]): Unit =
      if (refs.length >= 2) ways += Way(ways.length + 1L, hw, oneway, refs.toArray)

    /** a lattice of side x side intersections at (la0, lo0); returns ids */
    def lattice(n: Int, la0: Double, lo0: Double, classed: Boolean): Array[Array[Int]] = {
      val grid = Array.tabulate(n, n)((i, j) =>
        node(la0 + (i + jit()) * DegLat, lo0 + (j + jit()) * DegLon))
      def cls(line: Int): String =
        if (!classed) "residential"
        else if (line % 24 == 12) "primary"
        else if (line % 8 == 4) "secondary"
        else "residential"
      // every lattice line is cut into ways of 10 blocks; residential
      // blocks may carry a mid-block shape node, and a few are missing
      for (horizontal <- Seq(true, false); line <- 0 until n) {
        val hw = cls(line)
        val at = (k: Int) => if (horizontal) grid(line)(k) else grid(k)(line)
        var k = 0
        while (k < n - 1) {
          val end = math.min(n - 1, k + 10)
          val refs = scala.collection.mutable.ArrayBuffer(at(k))
          var b = k
          while (b < end) {
            val (u, v) = (at(b), at(b + 1))
            if (hw == "residential" && rnd.nextDouble() < 0.5)
              refs += node((lat(u) + lat(v)) / 2 + jit() * DegLat * 0.2,
                (lon(u) + lon(v)) / 2 + jit() * DegLon * 0.2)
            refs += v
            b += 1
          }
          val missing = hw == "residential" && rnd.nextDouble() < 0.03
          if (!missing) {
            val oneway = hw == "residential" && rnd.nextDouble() < 0.15
            way(hw, oneway, if (oneway && rnd.nextBoolean()) refs.reverse.toSeq else refs.toSeq)
          }
          k = end
        }
      }
      grid
    }

    val grid = lattice(side, Lat0, Lon0, classed = true)
    val mainland = grid.flatten
    // two motorways just off the lattice lines, with ramps every 12 blocks
    for (m <- Seq(side / 3, 2 * side / 3)) {
      val chain = (0 until side by 2).map(j =>
        node(Lat0 + (m + 0.5) * DegLat, Lon0 + (j + 0.3) * DegLon))
      way("motorway", oneway = false, chain)
      chain.indices.filter(_ % 6 == 3).foreach(c =>
        way("motorway_link", oneway = false, Seq(chain(c), grid(m)(c * 2))))
    }
    // street islands a few kilometres beyond the lattice edge
    val span = side
    val island = Seq((-12, span / 2), (span + 8, span / 3), (span / 2, -14), (span / 3, span + 9))
      .flatMap { case (di, dj) =>
        lattice(6, Lat0 + di * DegLat, Lon0 + dj * DegLon, classed = false).flatten.toSeq
      }.toArray
    RoadNet((1L to lat.length).toArray, lat.toArray, lon.toArray, ways.toArray,
      mainland, island)
  }

  // ---- PBF writer: blocks of at most 8000 entities, like real extracts ----

  val BlockEntities = 8000

  private final class W {
    val out = new java.io.ByteArrayOutputStream()
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def zigzag(v: Long): Unit = varint((v << 1) ^ (v >> 63))
    def tag(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)
    def bytes(field: Int, b: Array[Byte]): Unit = { tag(field, 2); varint(b.length); out.write(b) }
    def string(field: Int, s: String): Unit = bytes(field, s.getBytes(StandardCharsets.UTF_8))
    def packed(field: Int, vs: Iterable[Long], zz: Boolean): Unit = {
      val p = new W
      vs.foreach(v => if (zz) p.zigzag(v) else p.varint(v))
      bytes(field, p.toBytes)
    }
    def int(field: Int, v: Long): Unit = { tag(field, 0); varint(v) }
    def toBytes: Array[Byte] = out.toByteArray
  }

  private def deltas(vs: Seq[Long]): Seq[Long] =
    if (vs.isEmpty) Nil else vs.head +: vs.lazyZip(vs.tail).map((a, b) => b - a).toSeq

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def block(strings: Seq[String], group: W): Array[Byte] = {
    val b = new W
    val st = new W
    strings.foreach(s => st.string(1, s))
    b.bytes(1, st.toBytes)
    b.bytes(2, group.toBytes)
    b.int(17, 100)
    b.toBytes
  }

  /** Writes the network; returns the number of OSMData blobs. */
  def writePbf(net: RoadNet, path: String): Int = {
    val blocks = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    net.nodeIds.indices.grouped(BlockEntities).foreach { idx =>
      val dense = new W
      dense.packed(1, deltas(idx.map(net.nodeIds(_))), zz = true)
      dense.packed(8, deltas(idx.map(i => math.round(net.lats(i) * 1e7))), zz = true)
      dense.packed(9, deltas(idx.map(i => math.round(net.lons(i) * 1e7))), zz = true)
      val g = new W
      g.bytes(2, dense.toBytes)
      blocks += block(Seq(""), g)
    }
    net.ways.grouped(BlockEntities).foreach { ws =>
      val strings = scala.collection.mutable.LinkedHashMap[String, Int]("" -> 0)
      def intern(s: String): Long = strings.getOrElseUpdate(s, strings.size).toLong
      val g = new W
      ws.foreach { w =>
        val tags = Seq("highway" -> w.highway) ++ (if (w.oneway) Seq("oneway" -> "yes") else Nil)
        val m = new W
        m.int(1, w.id)
        m.packed(2, tags.map(t => intern(t._1)), zz = false)
        m.packed(3, tags.map(t => intern(t._2)), zz = false)
        m.packed(8, deltas(w.refs.toSeq.map(net.nodeIds(_))), zz = true)
        g.bytes(3, m.toBytes)
      }
      blocks += block(strings.keys.toSeq, g)
    }
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    def frame(tpe: String, blob: Array[Byte]): Unit = {
      val h = new W; h.string(1, tpe); h.int(3, blob.length)
      val hb = h.toBytes
      out.writeInt(hb.length); out.write(hb); out.write(blob)
    }
    try {
      frame("OSMHeader", { val b = new W; b.bytes(1, Array.emptyByteArray); b.toBytes })
      blocks.foreach { payload =>
        val b = new W
        b.int(2, payload.length)
        b.bytes(3, deflate(payload))
        frame("OSMData", b.toBytes)
      }
    } finally out.close()
    blocks.length
  }

  /** Node/way/edge counts plus a digest of the written file: two runs with
    * one seed print the same line.
    */
  def fingerprint(net: RoadNet, pbf: java.nio.file.Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val digest = md.digest(java.nio.file.Files.readAllBytes(pbf)).take(8).map("%02x".format(_)).mkString
    s"nodes=${net.numNodes} ways=${net.numWays} directed_edges=${net.directedEdges} pbf_sha256=$digest"
  }
}
