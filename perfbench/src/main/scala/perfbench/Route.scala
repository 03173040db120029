package perfbench

import graft.graph.{PreparedGraph, SpeedModel}
import graft.routing.{RouterHandle, RoutingContext}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Row, SparkSession}
import scala.jdk.CollectionConverters._

/** A seeded road network built from PBF with `valhalla_build_tiles` and
  * loaded with `travel_time_load_config`, both through SQL.
  */
final class RoadEnv(val net: RoadNet, val pbf: Path, val handle: RouterHandle,
                    val genS: Double, val buildS: Double, val loadS: Double,
                    val tileBytes: Long, val chBytes: Long, val directedEdges: Long) {
  def graph: PreparedGraph = handle.requireGraph("auto")
  def tileBytesPerEdge: Double = (tileBytes + chBytes).toDouble / directedEdges
}

object RoadEnv {
  /** Lattice side: ~10k nodes, inside the load-time CH gate. */
  val Side = 72

  def setup(spark: SparkSession, seed: Long, dir: Path): RoadEnv = {
    Files.createDirectories(dir)
    val t0 = System.nanoTime()
    val net = RoadNet.generate(seed, Side)
    val pbf = dir.resolve("net.osm.pbf")
    RoadNet.writePbf(net, pbf.toString)
    val t1 = System.nanoTime()
    System.err.println(s"[perfbench] road network ${RoadNet.fingerprint(net, pbf)}")
    val tiles = dir.resolve("tiles")
    val cfg = spark.sql(s"SELECT valhalla_build_tiles('$pbf', '$tiles')").head().getString(0)
    val t2 = System.nanoTime()
    spark.sql(s"SELECT travel_time_load_config('$cfg')").collect()
    val (a, b) = (net.mainland(0), net.mainland(net.mainland.length - 1))
    val first = spark.sql(s"SELECT travel_time(${net.lats(a)}D, ${net.lons(a)}D, " +
      s"${net.lats(b)}D, ${net.lons(b)}D, 'auto')").head()
    val t3 = System.nanoTime()
    if (first.isNullAt(0)) throw new IllegalStateException("first travel_time is NULL")
    val h = RoutingContext.handle.getOrElse(throw new IllegalStateException("no router loaded"))
    // without a CH every point query would measure the BiDijkstra fallback
    val noCh = SpeedModel.Modes.filter(m => h.graph(m).forall(_.ch == null))
    if (noCh.nonEmpty) throw new IllegalStateException(s"modes without a CH: ${noCh.mkString(",")}")
    System.err.println(f"[perfbench] road network generated in ${(t1 - t0) / 1e9}%.2f s, " +
      f"built in ${(t2 - t1) / 1e9}%.2f s, loaded in ${(t3 - t2) / 1e9}%.2f s")
    val files = Files.walk(tiles).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    def bytes(p: Path => Boolean) = files.filter(p).map(Files.size).sum
    new RoadEnv(net, pbf, h, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
      bytes(_.toString.endsWith(".parquet")), bytes(_.getFileName.toString == "ch.bin"),
      SpeedModel.Modes.map(m => h.requireGraph(m).numEdges.toLong).sum)
  }
}

final case class Pt(lat: Double, lon: Double) {
  def sql: String = s"${lat}D, ${lon}D"
  def wkb: Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(21).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(1).putDouble(lon).putDouble(lat)
    b.array()
  }
  def wkbSql: String = "X'" + wkb.map("%02X".format(_)).mkString + "'"
}

/** Seeded request inputs over a generated network. */
final class Inputs(net: RoadNet, seed: Long) {
  val rnd = new java.util.Random(seed * 31 + 7)
  private val side = RoadEnv.Side
  /** metres to degrees of latitude */
  private def m(v: Double) = v / 111195.0

  /** Share of points placed ~60 km off the network, beyond the snap cutoff. */
  val OutsideShare = 0.01

  def near(node: Int, jitterM: Double = 60.0): Pt = {
    val k = math.cos(math.toRadians(net.lats(node)))
    Pt(net.lats(node) + m((rnd.nextDouble() - 0.5) * 2 * jitterM),
      net.lons(node) + m((rnd.nextDouble() - 0.5) * 2 * jitterM) / k)
  }
  def outside(): Pt = Pt(RoadNet.Lat0 + 0.55 + rnd.nextDouble() * 0.1, RoadNet.Lon0 + rnd.nextDouble() * 0.3)
  def anyPoint(): Pt =
    if (rnd.nextDouble() < OutsideShare) outside()
    else near(net.mainland(rnd.nextInt(net.mainland.length)))

  /** OD pairs: each origin serves `originFactor` pairs, `shortShare` of
    * pairs are urban hops within ~8 blocks, the rest cross the network;
    * 2% of destinations sit on islands; rows are shuffled.
    */
  def pairs(n: Int, shortShare: Double = 0.6, originFactor: Int = 4): IndexedSeq[(Pt, Pt)] = {
    val out = (0 until n / originFactor).flatMap { _ =>
      val oi = rnd.nextInt(side); val oj = rnd.nextInt(side)
      val o = if (rnd.nextDouble() < OutsideShare) outside() else near(net.mainland(oi * side + oj))
      (0 until originFactor).map { _ =>
        val r = rnd.nextDouble()
        val d =
          if (r < OutsideShare) outside()
          else if (r < OutsideShare + 0.02) near(net.island(rnd.nextInt(net.island.length)))
          else if (r < shortShare) {
            def c(v: Int) = math.min(side - 1, math.max(0, v + rnd.nextInt(17) - 8))
            near(net.mainland(c(oi) * side + c(oj)))
          } else near(net.mainland(rnd.nextInt(net.mainland.length)))
        (o, d)
      }
    }.toArray
    for (i <- out.indices.reverse) { // Fisher-Yates with the seeded stream
      val j = rnd.nextInt(i + 1); val t = out(i); out(i) = out(j); out(j) = t
    }
    out.toIndexedSeq
  }
}

/** Independent answers for the correctness checks, computed on the same
  * loaded graph: BiDijkstra for point queries and a plain Dijkstra for
  * isochrones.
  */
final class Reference(g: PreparedGraph) {
  private val bi = new graft.algo.BiDijkstra(g)
  def snap(p: Pt): Int = g.snap(p.lat, p.lon)
  /** ms, or -1 when an endpoint does not snap or no path exists */
  def ms(a: Pt, b: Pt): Long = {
    val s = snap(a); val t = snap(b)
    if (s < 0 || t < 0) -1L else bi.shortestPathMs(s, t)
  }
  /** (node count, sum of seconds) of everything reachable within maxMs */
  def reach(p: Pt, maxMs: Long): (Int, Double) = {
    val s = snap(p)
    if (s < 0) return (0, 0.0)
    val dist = Array.fill(g.numNodes)(Long.MaxValue)
    val pq = new java.util.PriorityQueue[Array[Long]]((x, y) => java.lang.Long.compare(x(0), y(0)))
    dist(s) = 0; pq.add(Array(0L, s.toLong))
    var n = 0; var sum = 0.0
    while (!pq.isEmpty) {
      val Array(d, u0) = pq.poll(); val u = u0.toInt
      if (d == dist(u)) {
        n += 1; sum += d / 1000.0
        var e = g.offsets(u)
        while (e < g.offsets(u + 1)) {
          val v = g.targets(e); val nd = d + g.weightsMs(e)
          if (nd <= maxMs && nd < dist(v)) { dist(v) = nd; pq.add(Array(nd, v.toLong)) }
          e += 1
        }
      }
    }
    (n, sum)
  }
  /** (lon, lat) points of a little-endian WKB LINESTRING */
  def lineString(wkb: Array[Byte]): Option[IndexedSeq[(Double, Double)]] = {
    val b = java.nio.ByteBuffer.wrap(wkb).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (wkb.length < 9 || b.get() != 1 || b.getInt() != 2) return None
    val n = b.getInt()
    if (n < 1 || wkb.length != 9 + 16 * n) None
    else Some((0 until n).map(_ => (b.getDouble(), b.getDouble())))
  }
  def nodeLonLat(i: Int): (Double, Double) = (g.nodeLon(i), g.nodeLat(i))
  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Whether a route struct (distance_km, duration_minutes, geometry) is right. */
  def routeOk(a: Pt, b: Pt, r: Row): Boolean = {
    val exp = ms(a, b)
    if (exp < 0) r == null
    else r != null && lineString(r.getAs[Array[Byte]](2)).exists { pts =>
      pts.head == nodeLonLat(snap(a)) && pts.last == nodeLonLat(snap(b)) &&
        close(r.getDouble(1) * 60.0, exp / 1000.0)
    }
  }
}

/** `route_serve`: one client in a closed loop, one SQL statement per request. */
final class RouteServe(spark: SparkSession, env: RoadEnv, seed: Long) {
  import RouteServe._

  private val in = new Inputs(env.net, seed)
  /** The seeded pairs, cycled so a window of any length never runs out. */
  private val od = { val ps = in.pairs(4000); Iterator.continually(ps).flatten }

  /** The request mix as a fixed cycle: an equal sixth for each of the six
    * request kinds (travel_time, route_wkb, snap/locate, matrix, isochrone,
    * request), with snap and locate sharing theirs. No traffic data gives
    * shares, so none is favoured. A fixed cycle keeps the mix identical
    * across seeds; the seed picks the coordinates.
    */
  private val Cycle = "TRSMIQTRLMIQ"
  private var turn = 0

  def next(): Req = {
    val kind = Cycle(turn % Cycle.length)
    turn += 1
    lazy val (a, b) = od.next()
    kind match {
      case 'T' => TravelTime(a, b)
      case 'R' => RouteWkb(a, b)
      case 'S' => Snap(in.anyPoint())
      case 'L' => Locate(in.anyPoint())
      case 'M' => Matrix(Seq.fill(3)(in.anyPoint()), Seq.fill(3)(in.anyPoint()))
      case 'I' => Isochrone(in.anyPoint(), 60 + in.rnd.nextInt(120))
      case _ => Request(a, b)
    }
  }

  def check(ref: Reference, q: Req, rows: Array[Row]): Boolean = rows.length == 1 && {
    val v = rows(0)
    q match {
      case TravelTime(a, b) =>
        val exp = ref.ms(a, b)
        if (exp < 0) v.isNullAt(0) else !v.isNullAt(0) && v.getDouble(0) == exp / 1000.0
      case RouteWkb(a, b) => ref.routeOk(a, b, v.getStruct(0))
      case Snap(p) =>
        val i = ref.snap(p)
        if (i < 0) v.isNullAt(0)
        else !v.isNullAt(0) && {
          val s = v.getStruct(0)
          s.getDouble(0) == env.graph.nodeLat(i) && s.getDouble(1) == env.graph.nodeLon(i) &&
            ref.close(s.getDouble(2), graft.geo.Geo.haversineM(p.lat, p.lon,
              env.graph.nodeLat(i), env.graph.nodeLon(i)))
        }
      case Locate(p) =>
        val i = ref.snap(p)
        if (i < 0) v.isNullAt(0)
        else !v.isNullAt(0) && v.getStruct(0).getDouble(0) == env.graph.nodeLat(i) &&
          v.getStruct(0).getDouble(1) == env.graph.nodeLon(i)
      case Matrix(src, dst) =>
        val cells = v.getSeq[Row](0)
        cells.length == src.length * dst.length && cells.forall { c =>
          val exp = ref.ms(src(c.getInt(0)), dst(c.getInt(1)))
          if (exp < 0) c.getDouble(3) == -1.0 else ref.close(c.getDouble(3), exp / 1000.0)
        }
      case Isochrone(p, secs) =>
        val nodes = v.getSeq[Row](0)
        val (n, sum) = ref.reach(p, secs * 1000L)
        nodes.length == n && math.abs(nodes.map(_.getDouble(2)).sum - sum) <= 1e-6 * math.max(1.0, sum)
      case Request(a, b) =>
        val exp = ref.ms(a, b)
        val js = org.json4s.jackson.JsonMethods.parse(v.getString(0))
        if (exp < 0) (js \ "error") != org.json4s.JNothing
        else (js \ "trip" \ "summary" \ "time") match {
          case org.json4s.JDouble(t) => ref.close(t, exp / 1000.0)
          case _ => false
        }
    }
  }

  private val warm = Seq.fill(150)(next())

  /** Untimed: compiles and caches the request paths before the window. */
  def warmUp(): Unit = warm.foreach(q => spark.sql(q.sql).collect())

  def window(client: Client, seconds: Double): RunResult = {
    val done = scala.collection.mutable.ArrayBuffer.empty[(Req, OpTiming, Array[Row])]
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    var failed = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val q = next()
      try {
        val (t, rows) = client.run(q.kind, spark.sql(q.sql))
        done += ((q, t, rows))
      } catch { case e: Exception => failed += 1; problems += s"${q.kind} threw: ${e.getMessage}" }
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val ref = new Reference(env.graph)
    done.foreach { case (q, _, rows) =>
      if (!check(ref, q, rows)) { failed += 1; problems += s"wrong answer: ${q.sql}" }
    }
    RunResult(done.map(_._2).toSeq, done.length.toLong, windowS,
      done.length.toLong + problems.count(_.contains(" threw: ")), failed, problems.toSeq)
  }
}

object RouteServe {
  sealed trait Req { def kind: String; def sql: String }
  final case class TravelTime(a: Pt, b: Pt) extends Req {
    def kind = "travel_time"
    def sql = s"SELECT travel_time(${a.sql}, ${b.sql}, 'auto')"
  }
  final case class RouteWkb(a: Pt, b: Pt) extends Req {
    def kind = "route_wkb"
    def sql = s"SELECT travel_time_route_wkb(${a.wkbSql}, ${b.wkbSql}, 'auto')"
  }
  final case class Snap(p: Pt) extends Req {
    def kind = "snap"; def sql = s"SELECT travel_time_snap(${p.sql}, 'auto')"
  }
  final case class Locate(p: Pt) extends Req {
    def kind = "locate"; def sql = s"SELECT travel_time_locate(${p.sql}, 'auto')"
  }
  final case class Matrix(src: Seq[Pt], dst: Seq[Pt]) extends Req {
    def kind = "matrix"
    private def arr(ps: Seq[Pt], f: Pt => Double) = ps.map(p => s"${f(p)}D").mkString("array(", ", ", ")")
    def sql = s"SELECT travel_time_matrix(${arr(src, _.lat)}, ${arr(src, _.lon)}, " +
      s"${arr(dst, _.lat)}, ${arr(dst, _.lon)}, 'auto')"
  }
  final case class Isochrone(p: Pt, seconds: Int) extends Req {
    def kind = "isochrone"
    def sql = s"SELECT travel_time_isochrone(${p.sql}, ${seconds}D, 'auto')"
  }
  final case class Request(a: Pt, b: Pt) extends Req {
    def kind = "request_route"
    def sql = "SELECT travel_time_request('route', '{\"costing\":\"auto\",\"locations\":[" +
      s"""{"lat":${a.lat},"lon":${a.lon}},{"lat":${b.lat},"lon":${b.lon}}]}')"""
  }

}

/** `route_batch`: bulk routing over DataFrames of OD pairs, in three parts
  * that rotate: per-row `travel_time`, `travel_time_route_wkb` over a
  * subset spread across partitions, and `TravelTime.matrix`.
  */
final class RouteBatch(spark: SparkSession, env: RoadEnv, seed: Long, dir: Path) {
  // sized so the three parts take about the same time
  val TtPairs = 3000
  /** every RouteEvery-th pair is routed with geometry */
  val RouteEvery = 8
  val MatrixSources = 40
  val MatrixTargets = 100

  private val in = new Inputs(env.net, seed)
  private val pairs = in.pairs(TtPairs)
  private val srcs = (0 until MatrixSources).map(_ => in.anyPoint())
  private val dsts = (0 until MatrixTargets).map(_ => in.anyPoint())
  private val nParts = 2 * spark.sparkContext.defaultParallelism

  /** Untimed: writes the pairs as a multi-file parquet table, like a user's
    * input, and registers the matrix inputs.
    */
  def prepare(): Unit = {
    import spark.implicits._
    pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a.lat, a.lon, b.lat, b.lon, a.wkb, b.wkb) }
      .toDF("id", "o_lat", "o_lon", "d_lat", "d_lon", "o_wkb", "d_wkb")
      .repartition(nParts).write.parquet(dir.resolve("pairs").toString)
    spark.read.parquet(dir.resolve("pairs").toString).createOrReplaceTempView("pairs")
    def pts(ps: Seq[Pt]) = ps.zipWithIndex.map { case (p, i) => (i, p.lat, p.lon) }.toDF("idx", "lat", "lon")
    pts(srcs).repartition(spark.sparkContext.defaultParallelism).createOrReplaceTempView("m_src")
    pts(dsts).createOrReplaceTempView("m_dst")
  }

  /** The three parts: name, pairs routed per job, and the job. */
  private val parts: Seq[(String, Long, () => org.apache.spark.sql.DataFrame)] = Seq(
    ("tt", TtPairs.toLong, () =>
      spark.sql("SELECT id, travel_time(o_lat, o_lon, d_lat, d_lon, 'auto') AS tt FROM pairs")),
    ("route", (0 until TtPairs by RouteEvery).length.toLong, () =>
      spark.sql("SELECT id, travel_time_route_wkb(o_wkb, d_wkb, 'auto') AS r FROM pairs " +
        s"WHERE id % $RouteEvery = 0")),
    ("matrix", MatrixSources.toLong * MatrixTargets, () =>
      graft.routing.TravelTime.matrix(spark, spark.table("m_src"), spark.table("m_dst"), "auto", env.handle)))

  /** Untimed: one pass over the three parts. */
  def warmUp(): Unit = parts.foreach(_._3().collect())

  /** Sampled checks of one part's output; returns the number of wrong rows. */
  private def check(ref: Reference, kind: String, rows: Array[Row], rnd: java.util.Random): Int = kind match {
    case "tt" =>
      val byId = rows.map(r => r.getLong(0).toInt -> r).toMap
      val outsideIds = pairs.indices.filter { i =>
        ref.snap(pairs(i)._1) < 0 || ref.snap(pairs(i)._2) < 0
      }
      val sample = (Seq.fill(150)(rnd.nextInt(TtPairs)) ++ outsideIds).distinct
      (if (byId.size != TtPairs) 1 else 0) + sample.count { i =>
        val exp = ref.ms(pairs(i)._1, pairs(i)._2)
        val r = byId.get(i)
        !r.exists(r => if (exp < 0) r.isNullAt(1) else !r.isNullAt(1) && r.getDouble(1) == exp / 1000.0)
      }
    case "route" =>
      val n = (0 until TtPairs by RouteEvery).length
      (if (rows.length != n) 1 else 0) + rows.filter(_ => rnd.nextInt(4) == 0).count { r =>
        val (a, b) = pairs(r.getLong(0).toInt)
        !ref.routeOk(a, b, if (r.isNullAt(1)) null else r.getStruct(1))
      }
    case _ =>
      (if (rows.length != MatrixSources * MatrixTargets) 1 else 0) +
        rows.filter(_ => rnd.nextInt(25) == 0).count { c =>
          val exp = ref.ms(srcs(c.getInt(0)), dsts(c.getInt(1)))
          !(if (exp < 0) c.getDouble(3) == -1.0 else ref.close(c.getDouble(3), exp / 1000.0))
        }
  }

  private def digest(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.unorderedHash(rows.iterator.map(_.toSeq.map {
      case b: Array[Byte] => java.util.Arrays.hashCode(b)
      case r: Row => r.toSeq.map { case b: Array[Byte] => java.util.Arrays.hashCode(b); case x => x }.hashCode
      case x => x
    }))

  /** One operation is a full rotation, the three parts in sequence, so
    * each part moves the operation's time in proportion to its share. A
    * job counts as failed when it throws or gives a wrong answer: the first
    * job of each part is checked against the reference on sampled rows,
    * and every later one must repeat the first one's rows.
    */
  def window(client: Client, seconds: Double): RunResult = {
    val ops = scala.collection.mutable.ArrayBuffer.empty[OpTiming]
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val first = scala.collection.mutable.Map.empty[String, Array[Row]]
    val digests = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
    var jobs = 0L; var work = 0L; var failed = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val ts = parts.flatMap { case (kind, n, df) =>
        jobs += 1
        try {
          val (t, rows) = client.run(kind, df())
          work += n
          if (!first.contains(kind)) first(kind) = rows
          digests.getOrElseUpdate(kind, scala.collection.mutable.ArrayBuffer.empty) += digest(rows)
          Some(t)
        } catch { case e: Exception => failed += 1; problems += s"$kind threw: ${e.getMessage}"; None }
      }
      if (ts.length == parts.length)
        ops += OpTiming("rotation", ts.map(_.ms).sum, ts.map(_.planMs).sum, ts.map(_.execMs).sum)
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val ref = new Reference(env.graph)
    val rnd = new java.util.Random(seed)
    first.foreach { case (kind, rows) =>
      val ds = digests(kind)
      val bad = check(ref, kind, rows, rnd)
      val wrong = if (bad > 0) ds.length else ds.count(_ != ds.head)
      if (bad > 0) problems += s"$kind: $bad wrong sampled rows"
      if (wrong > 0) { failed += wrong; problems += s"$kind: $wrong of ${ds.length} jobs wrong" }
    }
    RunResult(ops.toSeq, work, windowS, jobs, failed, problems.toSeq)
  }
}
