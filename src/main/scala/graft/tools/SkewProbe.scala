package graft.tools

import graft._
import org.apache.spark.sql.functions._

/** Dev-only: adversarial-skew probe for the LSH bucket cap (md5-chunked
  * salted sub-buckets + AQE skew splits), which the uniform 5× replica
  * never loads. Builds the base documents plus `N` planted near-identical
  * spam docs (one 60-word body, a varying tail token: they collide on
  * every band; 10k of them make 50M candidate pairs uncapped), then runs
  * dd_minhash_lsh and dd_ngram_jaccard on the clean and the spammed
  * replica, printing each [[RunRecord]] (longest task against the mean
  * task: the straggler signal) and the closed-form uncapped pair volume
  * Σ_buckets C(cnt,2) the cap prevented, from bucket stats only.
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val baseDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val nSpam = if (args.length > 1) args(1).toInt else 10000
    val spark = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // ---- build the two replicas (documents-only dirs) -----------------
    val work = java.nio.file.Files.createTempDirectory("graft_skew").toString
    val clean = s"$work/clean"
    val spam = s"$work/spam"
    val docs = Tables.documents(spark, baseDir)
    docs.write.parquet(s"$clean/documents.parquet")
    val body = (1 to 60).map(i => s"spamword${i % 17}").mkString(" ")
    val spamDocs = spark.range(nSpam).select(
      ($"id" + 1000000L).as("doc_id"),
      concat(lit(body), lit(" tail"), $"id".cast("string")).as("text"),
      lit("en").as("lang"), lit("spam").as("source"),
      (length(lit(body)) + 10).cast("long").as("n_chars"))
    docs.unionByName(spamDocs).write.parquet(s"$spam/documents.parquet")

    for (round <- 1 to 2; (name, dir) <- Seq(
        ("clean", clean), ("spam", spam))) {
      println(s"SKEWPROBE -- round $round / $name replica " +
        s"(${if (name == "spam") s"base + $nSpam near-identical docs" else "base"})")
      // the uncapped volume the cap prevents: Σ over (band,bkey) of
      // C(cnt,2) — bucket stats only, the quadratic join never runs
      val bands = operators.Dedup.minhashBands(spark, dir)
      val uncapped = bands.groupBy($"band", $"bkey").agg(count(lit(1)).as("c"))
        .agg(sum(($"c" * ($"c" - 1) / 2).cast("long")).as("p")).head().getLong(0)
      println(s"SKEWPROBE $name uncapped pair volume (closed form): $uncapped")
      for (q <- Seq("dd_minhash_lsh", "dd_ngram_jaccard")) {
        spark.catalog.clearCache(); MatStore.clear(spark); System.gc()
        val r = Registry.byName(q).execute(spark, dir)
        println(f"SKEWPROBE $name%-5s $q%-16s ${r.line} taskMean=${r.runS / r.tasks.max(1)}%5.2f s")
      }
    }
    spark.stop()
  }
}
