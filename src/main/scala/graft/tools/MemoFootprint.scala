package graft.tools
import graft._

/** Dev-only: what [[MatStore]] holds after a family of queries has run.
  * Runs every registered query whose name matches the regex once (noop
  * write, like Bench), then prints the storage-block size of each memo
  * key's checkpoint, largest first, their total, and every persisted
  * RDD no checkpoint memo owns. `perfbench`'s `retained_heap_mb` sees
  * only the memos its sampled queries build; this report covers the
  * whole family.
  *
  * {{{
  * java ... graft.tools.MemoFootprint <sfDir> [nameRegex]
  * }}}
  * The default regex is perfbench's `panel` rule.
  */
object MemoFootprint {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val rule = (if (args.length > 1) args(1)
      else "(?!sim_ivf_append$)(q\\d*|an|etl|sent|tx|dd|sim|mm|st)_.*").r
    val spark = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val names = Registry.all.map(_.name).filter(rule.matches).sorted
    names.foreach { n =>
      try Registry.byName(n).run(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"MEMO failed $n: ${e.getMessage.take(120)}") }
    }
    val info = spark.sparkContext.getRDDStorageInfo
    val blocks = info.map(r => r.id -> (r.memSize + r.diskSize)).toMap
    // a checkpoint memo's plan IS its LogicalRDD; views and persisted
    // memos own no checkpoint of their own and report 0 here
    val rows = MatStore.entries(spark).map { case (key, df) =>
      val rdd = df.queryExecution.logical match {
        case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd.id)
        case _ => None
      }
      (key, rdd, rdd.flatMap(blocks.get).getOrElse(0L))
    }.sortBy(-_._3)
    val other = blocks -- rows.flatMap(_._2)
    println(f"MEMO ran ${names.size} queries matching $rule")
    rows.foreach { case (k, _, b) => println(f"MEMO ${b / 1048576.0}%8.2f MiB  $k") }
    println(f"MEMO ${rows.map(_._3).sum / 1048576.0}%8.2f MiB  total over ${rows.size} keys")
    // blocks no checkpoint memo owns: persisted memos, and query-local
    // checkpoints the ContextCleaner has not released yet
    info.filter(r => other.contains(r.id)).foreach { r =>
      println(f"MEMO ${other(r.id) / 1048576.0}%8.2f MiB  outside the store: RDD ${r.id} ${r.name.take(80)}")
    }
    spark.stop()
  }
}
