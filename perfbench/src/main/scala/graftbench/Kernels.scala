package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** `functions` layer: throughput of the SQL kernels `GraftExtensions`
  * registers, each a timed SQL call over the workload's own corpus.
  * A kernel's input column (words, shingles, k-gram hashes, vectors) is
  * prepared and cached first, so each timing covers one kernel only.
  * The corpus is repeated up to a fixed row count, so a timing is
  * mostly kernel work rather than job overhead.
  */
object Kernels {
  private val Reps = 3

  // input name -> (table, target rows, column expression)
  private val inputs = Seq(
    "text" -> ("documents", 50000L, "text"),
    "ws"   -> ("documents", 50000L, "split(text, ' ')"),
    "sh"   -> ("documents", 50000L, "shingles(split(text, ' '))"),
    "hk"   -> ("documents", 50000L, "kgram_hashes(split(text, ' '), 3)"),
    "v"    -> ("embeddings", 200000L, "cast(embedding AS array<double>)"),
  )

  // kernel -> (input, call over column x)
  private val calls = Seq(
    "winnow_fp"       -> ("text", "size(winnow_fp(x))"),
    "shingles"        -> ("ws", "size(shingles(x))"),
    "kgram_hashes"    -> ("ws", "size(kgram_hashes(x, 3))"),
    "bigram_stats"    -> ("ws", "hash(bigram_stats(x))"),
    "minhash_sig_str" -> ("sh", "minhash_sig_str(x)[0]"),
    "minhash_sig"     -> ("hk", "minhash_sig(x)[0]"),
    "lsh_buckets"     -> ("v", "lsh_buckets(x)[0]"),
    "vec_dot"         -> ("v", "vec_dot(x, x)"),
  )

  def measure(spark: SparkSession, corpus: String): Map[String, Double] =
    inputs.flatMap { case (input, (table, target, column)) =>
      val base = spark.read.parquet(s"$corpus/$table.parquet")
      val n    = base.count()
      val df: DataFrame = base
        .crossJoin(spark.range((target + n - 1) / n).withColumnRenamed("id", "rep"))
        .selectExpr(s"$column AS x")
        .repartition(spark.sparkContext.defaultParallelism)
        .persist(StorageLevel.MEMORY_ONLY)
      val rows = df.count()
      df.createOrReplaceTempView("graftbench_kernel_input")
      val out = calls.filter(_._2._1 == input).map { case (name, (_, call)) =>
        val q = s"SELECT sum(hash($call)) FROM graftbench_kernel_input"
        spark.sql(q).collect() // compile outside the timings
        val times = (1 to Reps).map { _ =>
          val t0 = System.nanoTime()
          spark.sql(q).collect()
          (System.nanoTime() - t0) / 1e9
        }
        s"functions.$name.rows_per_s" -> rows / Harness.quantile(times, 0.5)
      }
      df.unpersist(blocking = true)
      out
    }.toMap
}
