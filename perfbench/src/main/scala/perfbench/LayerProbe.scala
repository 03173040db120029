package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Direct calls into the graph, algo, routing, geo and functions modules on
  * seeded inputs, each timed under a span named after its layer. The same
  * probe runs in every traced run, so every workload reports every layer.
  */
final class LayerProbe(spark: SparkSession, env: RoadEnv, seed: Long, dir: Path, tables: Path,
                       tracer: Tracer) {
  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** Times `n` calls after a short untimed warm-up; returns microseconds per call. */
  private def perCallUs(layer: String, n: Int)(f: Int => Unit): Double = {
    (0 until math.max(1, n / 10)).foreach(f)
    tracer.span(layer) {
      val t0 = System.nanoTime()
      (0 until n).foreach(f)
      (System.nanoTime() - t0) / 1e3 / n
    }
  }

  private def seconds[T](layer: String)(body: => T): (T, Double) = tracer.span(layer) {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def graphBuild(): Unit = {
    import graft.graph.{GraphBuilder, OsmPbf}
    import org.apache.spark.storage.StorageLevel
    val out = dir.resolve("probe-tiles").toString
    val ((nodes, ways), decodeS) = seconds("graph") {
      val (n, w) = OsmPbf.read(spark, env.pbf.toString)
      val nc = n.persist(StorageLevel.MEMORY_AND_DISK); val wc = w.persist(StorageLevel.MEMORY_AND_DISK)
      nc.count(); wc.count()
      (nc, wc)
    }
    val (edges, edgeS) = seconds("graph") {
      val e = GraphBuilder.buildEdges(spark, ways, nodes, "auto").persist(StorageLevel.MEMORY_AND_DISK)
      e.count(); e
    }
    val (_, writeS) = seconds("graph") {
      edges.write.parquet(s"$out/edges.parquet")
      GraphBuilder.usedNodes(spark, nodes, spark.read.parquet(s"$out/edges.parquet"))
        .write.parquet(s"$out/nodes.parquet")
    }
    Seq(nodes, ways, edges).foreach(_.unpersist(false))
    val (pg, prepareS) = seconds("graph") {
      GraphBuilder.prepare(spark.read.parquet(s"$out/nodes.parquet"), spark.read.parquet(s"$out/edges.parquet"))
    }
    val (ch, chS) = seconds("algo")(graft.algo.ContractionHierarchy.build(pg))
    metrics ++= Seq(
      "graph.pbf_decode_s" -> decodeS, "graph.edge_build_s" -> edgeS,
      "graph.tile_write_s" -> writeS, "graph.prepare_s" -> prepareS,
      "algo.ch_build_s" -> chS,
      "algo.ch_shortcuts_per_edge" -> ch.numShortcuts(pg.numEdges).toDouble / pg.numEdges,
      "graph.tile_bytes" -> env.tileBytes.toDouble, "graph.ch_bytes" -> env.chBytes.toDouble,
      "graph.tile_bytes_per_edge" -> env.tileBytesPerEdge,
      "routing.build_tiles_s" -> env.buildS, "routing.load_s" -> env.loadS)
  }

  def kernels(): Unit = {
    import graft.routing.{RequestApi, RoutingOps, Routers}
    val g = env.graph
    val in = new Inputs(env.net, seed + 1)
    val pts = IndexedSeq.fill(20000)(in.anyPoint())
    val od = in.pairs(3000)
    val snapped = od.map { case (a, b) => (g.snap(a.lat, a.lon), g.snap(b.lat, b.lon)) }
      .filter { case (s, t) => s >= 0 && t >= 0 }
    val chq = Routers.chQuery(g).getOrElse(throw new IllegalStateException("auto graph has no CH"))
    val dij = new graft.algo.Dijkstra(g)
    metrics ++= Seq(
      "graph.snap_us" -> perCallUs("graph", pts.length)(i => g.snap(pts(i).lat, pts(i).lon)),
      "algo.ch_query_us" -> perCallUs("algo", snapped.length)(i => chq.shortestPathMs(snapped(i)._1, snapped(i)._2)),
      "algo.path_query_us" -> perCallUs("algo", 300)(i =>
        dij.shortestPathWithNodes(snapped(i)._1, snapped(i)._2)),
      "routing.snap_us" -> perCallUs("routing", pts.length)(i => RoutingOps.snap(g, pts(i).lat, pts(i).lon)),
      "routing.travel_time_us" -> perCallUs("routing", od.length) { i =>
        val (a, b) = od(i); RoutingOps.travelTimeSeconds(g, a.lat, a.lon, b.lat, b.lon)
      },
      "routing.route_us" -> perCallUs("routing", 300) { i =>
        val (a, b) = od(i); RoutingOps.route(g, (a.lon, a.lat), (b.lon, b.lat))
      },
      "routing.request_us" -> perCallUs("routing", 300) { i =>
        val (a, b) = od(i)
        RequestApi.dispatch(env.handle, "route", s"""{"costing":"auto","locations":""" +
          s"""[{"lat":${a.lat},"lon":${a.lon}},{"lat":${b.lat},"lon":${b.lon}}]}""")
      })
    metrics("routing.routed_ratio") = od.count { case (a, b) =>
      RoutingOps.travelTimeSeconds(g, a.lat, a.lon, b.lat, b.lon).isDefined }.toDouble / od.length
    val targets = snapped.take(100).map(_._2).toArray
    metrics("algo.one_to_many_us_per_target") =
      perCallUs("algo", 30)(i => dij.oneToMany(snapped(i)._1, targets)) / targets.length
    val paths = snapped.take(300).flatMap { case (s, t) => dij.shortestPathWithNodes(s, t) }
      .map(_._2.map(i => (g.nodeLon(i), g.nodeLat(i))).toSeq)
    val points = paths.map(_.length).sum
    metrics("geo.wkb_us_per_point") = perCallUs("geo", paths.length) { i =>
      graft.geo.Wkb.readLineString(graft.geo.Wkb.writeLineString(paths(i)))
    } * paths.length / points
  }

  def functions(): Unit = {
    import graft.functions.{Hash60, IntersectSize, MinhashSig, ShingleSet}
    // the corpus queries' documents, held in memory
    val texts = spark.read.parquet(tables.resolve("documents.parquet").toString).select("text")
      .collect().map(r => UTF8String.fromString(r.getString(0))).toIndexedSeq
    val shingles = texts.map(ShingleSet.compute(_, 5))
    val k = texts.length
    def ns(f: Int => Unit) = perCallUs("functions", 2000)(i => f(i % k)) * 1000
    metrics ++= Seq(
      "functions.hash60_ns" -> ns(i => Hash60.compute(texts(i))),
      "functions.shingle_set_ns" -> ns(i => ShingleSet.compute(texts(i), 5)),
      "functions.intersect_size_ns" -> ns(i => IntersectSize.compute(shingles(i), shingles((i + 1) % k))),
      "functions.minhash_sig_ns" -> ns(i => MinhashSig.compute(texts(i), 5, 12)))
  }

  def run(): Map[String, Double] = {
    graphBuild(); kernels(); functions()
    metrics.toMap
  }
}
