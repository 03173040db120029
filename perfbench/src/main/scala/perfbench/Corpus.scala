package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The engine's own benchmark queries over seeded tables, run once cold and
  * once warm in traced runs: the warm pass gives the `queries.*` layer
  * metrics, the cold pass the outputs checked against DuckDB.
  */
final class Corpus(spark: SparkSession, tablesDir: Path) {
  import Corpus.Queries

  private val defs = graft.SparkEntry.queries
  val missing: Seq[String] = Queries.filterNot(defs.contains)

  private def run(client: Client, name: String): (OpTiming, Array[Row], StructType) = {
    var schema: StructType = null
    val (t, rows) = client.run(name, {
      val df = defs(name)(spark, tablesDir.toString); schema = df.schema; df
    })
    // queries persist intermediates for their own job; drop them between
    // queries, as a deployment scoping persists per job would
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    (t, rows, schema)
  }

  private def digest(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.unorderedHash(rows.iterator.map(_.toString))

  private val reference = scala.collection.mutable.Map.empty[String, (Array[Row], StructType, Int)]

  /** Untimed warm-up pass; its outputs are the ones checked against the
    * DuckDB oracles and the digests later passes must repeat.
    */
  def warmUp(client: Client): Unit = Queries.foreach { q =>
    val (_, rows, schema) = run(client, q)
    reference(q) = (rows, schema, digest(rows))
  }

  /** Every timed query execution, for the per-query metrics. */
  val queryOps = scala.collection.mutable.ArrayBuffer.empty[OpTiming]

  /** One pass; every output must repeat the warm-up digest. */
  def pass(client: Client): RunResult = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    Queries.foreach { q =>
      try {
        val (t, rows, _) = run(client, q)
        queryOps += t
        if (digest(rows) != reference(q)._3) problems += s"$q: output differs from the warm-up pass"
      } catch { case e: Exception => problems += s"$q threw: ${e.getMessage}" }
    }
    RunResult(queryOps.toSeq, Queries.length, (System.nanoTime() - t0) / 1e9,
      Queries.length, problems.length, problems.toSeq)
  }

  /** Writes each warm-up output as parquet plus the oracle SQL, for the
    * DuckDB comparison that runs after the JVM exits.
    */
  def writeOutputs(out: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val oracles = graft.SparkEntry.oracleSql
    reference.foreach { case (q, (rows, schema, _)) =>
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.parquet(out.resolve(q).toString)
    }
    val json = Queries.flatMap(q => oracles.get(q).map(sql => s"${Json.str(q)}: ${Json.str(sql)}"))
      .mkString("{", ",\n", "}")
    java.nio.file.Files.writeString(out.resolve("oracle_sql.json"), json)
  }
}

object Corpus {
  /** A relational join, the CSV and band-index write paths, the
    * MinHash/shingle/intersect kernels behind LSH Jaccard, and a bounded
    * stream: about six seconds a warm pass on four cores.
    */
  val Queries = Seq(
    "q03_join_revenue_by_segment", "q27_csv_roundtrip", "p05_ngram_jaccard",
    "p125_band_index_append", "s03_stream_dedup")
}
