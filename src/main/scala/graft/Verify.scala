package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each registered query's result → parquet (forced
  * through [[QueryDef.execute]]), plus oracle_sql.json, for the DuckDB
  * compare.
  *
  * A query that throws does not stop the dump: every other query's
  * output and oracle_sql.json are still written, then the failed query
  * names are listed on stderr and the process exits 1.
  *
  * Routed through GraftSession.builder so GraftExtensions (graft_cosine /
  * graft_hamming SQL functions), AQE, and the UTC session timezone apply
  * at verify time exactly as they do in Bench and in library use.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg: comma-separated query-name filter (dev loop only;
    // the driver always passes two args and dumps everything)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.get(cpus)
    new java.io.File(outDir).mkdirs()
    val failed = Seq.newBuilder[String]
    Registry.byName
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, q) =>
      spark.catalog.clearCache()
      try q.execute(spark, sfDir, QueryDef.parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
    }
    val json = Json.obj(SparkEntry.oracleSql.map { case (k, v) => k -> Json.str(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    val names = failed.result()
    if (names.nonEmpty) {
      System.err.println(
        s"[verify] ${names.size} queries failed: ${names.mkString(", ")}")
      sys.exit(1)
    }
  }
}
