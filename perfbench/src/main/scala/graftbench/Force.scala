package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** Runs a frame's physical plan once, the way a `noop` write does, and
  * folds every output row into an order-independent fingerprint: the row
  * count and the wrapping sum of each row's XXH64 over its UnsafeRow
  * bytes. Equal multisets of rows give equal fingerprints whatever the
  * partitioning, so staged and composed outputs, or two runs of a query,
  * compare directly.
  *
  * The execution is registered like any Dataset action, so Spark's
  * listeners (jobs, tasks, QueryExecutionListener phases) see it. */
object Force {
  final case class Print(rows: Long, hash: Long)

  def apply(df: DataFrame): Print = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("fingerprint")) {
      val schema = qe.executedPlan.schema
      qe.toRdd.mapPartitions { rows =>
        val toUnsafe = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        rows.foreach { r =>
          val u = toUnsafe(r)
          n += 1
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        }
        Iterator(Print(n, h))
      }.collect().foldLeft(Print(0L, 0L))((a, b) => Print(a.rows + b.rows, a.hash + b.hash))
    }
  }
}
