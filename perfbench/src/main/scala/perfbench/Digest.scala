package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result digest: the row count plus the sum of
  * `xxhash64` over all columns of each row. Two frames with the same
  * multiset of rows get the same digest whatever their partitioning or
  * row order. Map-typed columns are hashed through their JSON rendering,
  * because Spark refuses to hash maps.
  */
object Digest {

  /** The one-row aggregate that consumes `df` into its digest. */
  def frame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val h: Column = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.agg(
      count(lit(1)).as("n"),
      coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
        .as("h"))
  }

  /** Runs a [[frame]] and renders its row as `rows:hashsum`. `collect`
    * executes the frame's own `QueryExecution`, so a plan forced before
    * this call is the one that runs.
    */
  def render(df: DataFrame): String = {
    val r = df.collect()(0)
    s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}"
  }

  def of(df: DataFrame): String = render(frame(df))

  /** Digest of several named parts, e.g. the tables a pipeline staged. */
  def combine(parts: Seq[(String, String)]): String =
    parts.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(";")

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType         => true
    case ArrayType(e, _)    => hasMap(e)
    case StructType(fields) => fields.exists(f => hasMap(f.dataType))
    case _                  => false
  }
}
