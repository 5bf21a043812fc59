package org.apache.spark.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** The registry sweep's query order and the sink that checks each query's
  * rows against the hashes recorded for the benchmark corpus.
  */
object Registry {

  /** Recorded result of one query on the benchmark corpus. */
  final case class Expected(rows: Long, hash: String)

  def loadExpected(f: File): Map[String, Expected] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filterNot(l => l.isBlank || l.startsWith("#")).map { l =>
      val Array(q, rows, hash) = l.split('\t')
      q -> Expected(rows.toLong, hash)
    }.toMap
    finally src.close()
  }

  /** Seeded Fisher-Yates shuffle. */
  def shuffle[T](xs: Seq[T], seed: Long): Seq[T] = {
    val r = new java.util.SplittableRandom(seed)
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  /** Evaluate every row of `df` and fold an order-insensitive hash of it:
    * each row is projected to its `UnsafeRow` form and hashed over its
    * bytes; the sum and the xor of the row hashes are kept. With `perturb`
    * the first row of each partition is hashed as if one bit of it had
    * changed, which must turn the run red.
    */
  def sink(df: DataFrame, perturb: Boolean): Expected = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      // Interpreted, so the sink adds no compiles to the codegen counters.
      val proj = InterpretedUnsafeProjection.createProjection(schema.fields.toSeq.zipWithIndex
        .map { case (f, i) => BoundReference(i, f.dataType, f.nullable) })
      var n, sum, xor = 0L
      it.foreach { row =>
        val u = proj(row)
        val lo = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 42)
        val hi = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 0x2f0f0f0f)
        var h = RowHash.fmix((hi.toLong << 32) | (lo & 0xffffffffL))
        if (perturb && n == 0) h ^= 1L
        n += 1; sum += h; xor ^= h
      }
      Iterator((n, sum, xor))
    }.collect()
    Expected(parts.map(_._1).sum, f"${parts.map(_._2).sum}%016x${parts.map(_._3).foldLeft(0L)(_ ^ _)}%016x")
  }

  def query(name: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown registry query '$name'"))
}
