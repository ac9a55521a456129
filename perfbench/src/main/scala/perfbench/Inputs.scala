package perfbench

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded workload inputs, derived from a read-only source directory of the
  * engine's test tables. The same seed gives the same inputs; the source is
  * only ever read. */
object Inputs {
  val AllTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A seed as a positive salt that fits the hash functions' int seed. */
  def salt(seed: Long): Int = (java.lang.Math.floorMod(seed, 1000003L) + 1L).toInt

  private def raw(spark: SparkSession, src: String, table: String): DataFrame =
    spark.read.parquet(s"$src/$table.parquet")

  private def write(df: DataFrame, out: String, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$out/$table.parquet")

  /** Keeps the rows whose key hashes, under the seed, into one of `of`
    * buckets — a seeded sample of fixed expected size. */
  private def sampled(key: String, seed: Long, of: Int): Column =
    pmod(xxhash64(col(key), lit(salt(seed))), lit(of)) === 0

  /** `warehouse_nightly`: of the `tables` the queries read, a seeded
    * one-in-`factSample` sample of the fact
    * tables (orders and their lineitems by order key, events by event id);
    * dimensions, documents and embeddings whole. */
  def nightly(spark: SparkSession, src: String, out: String, seed: Long, factSample: Int,
      tables: Set[String]): Unit = {
    val factKey = Map("orders" -> "o_orderkey", "lineitem" -> "l_orderkey", "events" -> "event_id")
    AllTables.filter(tables).foreach { t =>
      val df = raw(spark, src, t)
      write(factKey.get(t).fold(df)(k => df.filter(sampled(k, seed, factSample))), out, t)
    }
  }

  /** `corpus_curation`: the corpus under a seeded, content-independent word
    * renaming (every word becomes the length-preserving base-36 rendering of
    * its hash under the seed), and every embedding cyclically rotated by a
    * seeded offset. Renaming maps equal texts to equal texts, so duplicate
    * classes and within-corpus Jaccard are preserved exactly; rotation
    * preserves every dot product. Of the `tables` the queries read, only
    * documents and embeddings change. */
  def curation(spark: SparkSession, src: String, out: String, seed: Long,
      tables: Set[String]): Unit = {
    val k = salt(seed)
    AllTables.filter(tables).foreach { t =>
      val df = raw(spark, src, t)
      val derived = t match {
        case "documents" => df.withColumn("text", renameWords("text", k))
        case "embeddings" =>
          val dim = df.selectExpr("max(size(embedding))").head().getInt(0)
          df.withColumn("embedding", rotate("embedding", k % dim))
        case _ => df
      }
      write(derived, out, t)
    }
  }

  /** The nightly chain's orders archive: a seeded one-in-`of` sample of
    * `orders`. */
  def orders(spark: SparkSession, src: String, seed: Long, of: Int): DataFrame =
    raw(spark, src, "orders").filter(sampled("o_orderkey", seed, of))

  private def renameWords(textCol: String, k: Int): Column = expr(
    s"""array_join(
       |  transform(split($textCol, ' '),
       |    w -> substring(
       |           rpad(concat(lower(conv(cast(abs(xxhash64(w, $k)) as string), 10, 36)),
       |                       lower(conv(cast(abs(xxhash64(w, $k + 7919)) as string), 10, 36))),
       |                length(w), '0'),
       |           1, length(w))),
       |  ' ')""".stripMargin)

  private def rotate(vecCol: String, r: Int): Column =
    if (r == 0) col(vecCol)
    else expr(s"concat(slice($vecCol, ${r + 1}, size($vecCol) - $r), slice($vecCol, 1, $r))")
}
