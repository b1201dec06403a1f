package graft.perfbench

import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}

/** Order-sensitive digest of a query's whole output: its schema (column
  * names and types), its row count, and a polynomial hash over every
  * column of every row in output order.
  *
  * Computing it IS the benchmark's timed action: the executors walk
  * `queryExecution.toRdd`, so the physical plan runs exactly as a
  * consumer of the full output would run it (the final sort and every
  * column survive, unlike under `count()`). Each partition folds its rows
  * into `(n, h)` with `h = sum(rowHash_i * B^(n-1-i))`; partitions combine
  * in index order as `h = h_a * B^n_b + h_b`, so the result depends on the
  * row sequence only, never on how the rows were split into partitions.
  * That is what lets a reference computed from a single-file parquet dump
  * match the live, multi-partition output.
  */
final case class Digest(rows: Long, hex: String)

object Digest {
  private val Base = 0x100000001b3L

  private def pow(b: Long, e: Long): Long = {
    var r = 1L; var x = b; var k = e
    while (k > 0) { if ((k & 1) == 1) r *= x; x *= x; k >>= 1 }
    r
  }

  /** Runs the query under a SQL execution id (as a Dataset action would)
    * and digests its output. */
  def of(qe: QueryExecution): Digest = {
    val types  = qe.executedPlan.output.map(_.dataType).toArray
    val schema = qe.analyzed.output.map(a => s"${a.name}:${a.dataType.catalogString}").mkString(",")
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench digest")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(types)
        var n = 0L; var h = 0L
        while (it.hasNext) {
          val r = proj(it.next())
          h = h * Base + XXH64.hashUnsafeBytes(r.getBaseObject, r.getBaseOffset, r.getSizeInBytes, 42L)
          n += 1
        }
        Iterator((n, h))
      }.collect()
    }
    var n = 0L; var h = 0L
    parts.foreach { case (pn, ph) => h = h * pow(Base, pn) + ph; n += pn }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(s"$schema\u0000$n\u0000$h".getBytes("UTF-8"))
    Digest(n, md.digest().take(12).map("%02x".format(_)).mkString)
  }

  /** `name \t rows \t hex` per line, as written by [[PerfBench.writeRefs]]. */
  def readRefs(path: String): Map[String, Digest] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(name, rows, hex) = l.split('\t')
      name -> Digest(rows.toLong, hex)
    }.toMap
    finally src.close()
  }
}
