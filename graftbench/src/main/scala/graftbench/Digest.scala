package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, If, IsNull, Literal, UnsafeProjection, XxHash64}
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query's full output: the row count
  * and the wrapping sum of one 64-bit hash per row. Computing it reads
  * every column of every row, so the digest pass IS the query's full
  * materialization (the `SPARK_GRAFT_BENCH_FULL` discipline of
  * `graft.Bench`, which a plain `count()` would let Spark prune).
  */
object Digest {
  // a null cell hashes to this constant instead of being skipped, so
  // (a, null) and (null, a) digest differently
  private val NullCell = Literal(0x5bd1e9955bd1e995L)

  private def rowHash(schema: StructType): Expression =
    XxHash64(schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      val cell = BoundReference(i, f.dataType, nullable = true)
      If(IsNull(cell), NullCell, XxHash64(Seq(cell), 42L))
    }, 42L)

  def apply(df: DataFrame): String = {
    val h = rowHash(df.schema)
    val (rows, sum) = df.queryExecution.toRdd.mapPartitions { it =>
      val project = UnsafeProjection.create(Seq(h))
      var n = 0L
      var s = 0L
      while (it.hasNext) { s += project(it.next()).getLong(0); n += 1 }
      Iterator.single((n, s))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    f"$rows:$sum%016x"
  }

  /** Row count of a digest. */
  def rows(digest: String): Long = digest.takeWhile(_ != ':').toLong
}
