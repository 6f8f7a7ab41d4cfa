package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability: a Spark query + (when SQL-expressible) a DuckDB
  * oracle that must produce identical rows on the same parquet tables.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String]) {

  /** Build this query over the tables in `dir`, force it through `sink`
    * and return what the run cost ([[Run.measure]]). Throws what the
    * query throws.
    */
  def execute(spark: SparkSession, dir: String,
      sink: DataFrame => Unit = QueryDef.noop): RunRecord =
    Run.measure(spark)(run(spark, dir))(sink)._2
}

object QueryDef {
  def apply(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, Some(oracle))
  def rowsOnly(name: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, None)

  /** Materialize every output column of every row, as the DuckDB oracle
    * does, and discard them without I/O. Not count(): Catalyst prunes the
    * final sort and every derived column under Aggregate(count(1)), so a
    * narrow-map query would partly never run.
    */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** Write one parquet file under `path`: the dump the oracle compare reads. */
  def parquet(path: String): DataFrame => Unit =
    _.coalesce(1).write.mode("overwrite").parquet(path)
}
