package graft.tools

/** Dev/ops entry: train and publish the durable index artifacts for a
  * data dir (the one-time "train" job of the train-once/serve-many
  * story — see [[graft.sources.IndexStore]]). A later session started
  * with SPARK_GRAFT_INDEX_DIR pointing at the store serves every
  * published MatStore key from the bucketed tables instead of
  * rebuilding; the full Verify gate run that way proves serve-path
  * results hash-match the oracle end to end.
  *
  * Usage: runMain graft.tools.PublishIndex <dataDir> <storeDir>
  */
object PublishIndex {
  def main(args: Array[String]): Unit = {
    val dataDir = args(0)
    val storeDir = args(1)
    val s = graft.GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    s.sparkContext.setLogLevel("ERROR")
    graft.sources.IndexStore.publishCorpus(s, storeDir, dataDir)
      .foreach(k => println(s"PUBLISHED $k -> ${graft.sources.IndexStore.tableName(k)}"))
    s.stop()
  }
}
