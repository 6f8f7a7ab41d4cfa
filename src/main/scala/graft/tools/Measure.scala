package graft.tools

import graft._
import org.apache.spark.sql.{GraftRunAccess, SparkSession}

/** Dev-only: `graft.tools.Measure <sfDir> <nameRegex> [passes]` runs
  * every registered query matching the regex, in name order, once per
  * pass (default 2), and prints each run's [[RunRecord]] and a total per
  * pass (jobs, stages, tasks, executions, shuffle read and write MB);
  * then what [[MatStore]] holds. Each pass starts with `MatStore.clear`
  * and `clearCache`, so it pays every shared build once,
  * in whichever query consumes it first, like a perfbench pass. Pass 1
  * also warms the JIT and codegen cache; compare code states by a later
  * pass's counters, not by walls (the host throttles intermittently).
  */
object Measure {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val rule = args(1).r
    val passes = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val queries = Registry.all.filter(q => rule.matches(q.name)).sortBy(_.name)
    for (p <- 1 to passes) {
      MatStore.clear(spark)
      spark.catalog.clearCache()
      System.gc()
      val recs = queries.flatMap { q =>
        val r = scala.util.Try(q.execute(spark, dir))
        println(f"MEASURE $p ${q.name}%-26s " +
          r.fold(e => s"failed: ${String.valueOf(e.getMessage).take(160)}", _.line))
        r.toOption
      }
      def sum(f: RunRecord => Int): Int = recs.map(f).sum
      def mb(f: RunRecord => Long): Double = recs.map(f).sum / 1048576.0
      println(f"MEASURE $p total over ${recs.size} queries: wall=${recs.map(_.wallS).sum}%6.2f s " +
        s"jobs=${sum(_.jobs)} (construct ${sum(_.constructJobs)}) stages=${sum(_.stages)} " +
        s"tasks=${sum(_.tasks)} execs=${sum(_.executions)} " +
        f"shufR=${mb(_.shuffleReadBytes)}%.2f shufW=${mb(_.shuffleWriteBytes)}%.2f MB")
    }
    footprint(spark)
    spark.stop()
  }

  /** Each `MatStore` key's blocks, largest first, and their total: a
    * checkpoint memo's RDD, or a persisted memo's cached column buffers
    * (views and served scans own none). Then every persisted RDD no key
    * owns: query-local blocks the ContextCleaner has not released yet.
    */
  private def footprint(spark: SparkSession): Unit = {
    val info = spark.sparkContext.getRDDStorageInfo
    val blocks = info.map(r => r.id -> (r.memSize + r.diskSize)).toMap
    val rows = MatStore.entries(spark).map { case (key, df) =>
      val rdd = GraftRunAccess.blocksRddId(df)
      (key, rdd, rdd.flatMap(blocks.get).getOrElse(0L))
    }.sortBy(-_._3)
    def mib(b: Long): Double = b / 1048576.0
    rows.foreach { case (k, _, b) => println(f"MEMO ${mib(b)}%8.2f MiB  $k") }
    println(f"MEMO ${mib(rows.map(_._3).sum)}%8.2f MiB  total over ${rows.size} keys")
    val owned = rows.flatMap(_._2).toSet
    info.filterNot(r => owned(r.id)).foreach { r =>
      println(f"MEMO ${mib(r.memSize + r.diskSize)}%8.2f MiB  outside the store: RDD ${r.id} ${r.name.linesIterator.next().take(80)}")
    }
  }
}
