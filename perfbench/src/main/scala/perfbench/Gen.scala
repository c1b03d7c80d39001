package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (row id, seed, column salt) through xxhash64, so the same seed
  * writes the same bytes whatever the host, and the engine only ever
  * sees the files written here.
  *
  * The `documents` corpus follows the fixtures' schema (FIXTURES.md)
  * with planted exact duplicates, near-duplicates, repetitive text and
  * copied evaluation spans; heal batches are lineitem-shaped CSV. */
object Gen {
  private def h(seed: Long, salt: Int, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  /** Uniform in [0, 1) from the row's columns. */
  def u(seed: Long, salt: Int, cols: Column*): Column =
    pmod(h(seed, salt, cols: _*), lit(1000003L)).cast("double") / 1000003.0

  /** Uniform integer in [lo, hi]. */
  def ui(seed: Long, salt: Int, lo: Long, hi: Long, cols: Column*): Column =
    lit(lo) + pmod(h(seed, salt, cols: _*), lit(hi - lo + 1))

  /** The seed of the corpus's shape, fixed (see [[documents]]). */
  private val Shape = 0L

  private def pick(seed: Long, salt: Int, values: Seq[String], cols: Column*): Column =
    element_at(array(values.map(lit): _*), (ui(seed, salt, 1, values.size, cols: _*)).cast("int"))

  val vocab: Seq[String] = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
    "window", "data", "column", "join", "small", "customer", "query", "order",
    "group", "filter", "stream", "big", "vector", "index", "plan", "cache", "shard",
    "node", "task", "stage", "shuffle", "file", "page")

  /** The vocabulary with the words of each length shuffled by the seed:
    * texts differ by seed, their lengths and repetition do not. */
  private def words(seed: Long): Seq[String] = {
    val r = new scala.util.Random(seed)
    val shuffled = vocab.groupBy(_.length).map { case (k, ws) => k -> r.shuffle(ws).iterator }
    vocab.map(w => shuffled(w.length).next())
  }

  /** The `documents` table: doc_id 0..n-1. In every 100 documents, 2
    * exact copies and 6 near copies (2% of tokens replaced) of a nearby
    * document, 3 repetitive texts the quality filter drops, and 4 that
    * embed a 24-token span of an evaluation document (doc_id % 50 ==
    * 0). The corpus's shape (which documents get each kind, lengths,
    * which tokens repeat) is the same for every seed, and the seed
    * only renames words among words of one length: the recipe's job
    * sequence follows the shape, and warm passes measured 6.2-9.3 s
    * across seeds when the seed also moved the kinds and lengths. */
  def documents(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val vocabulary = array(words(seed).map(lit): _*)
    // token i (1-based) of the synthetic text whose source id is `sid`
    def tok(sid: Column, i: Column): Column = element_at(vocabulary,
      (lit(1) + pmod(xxhash64(lit(Shape), lit(77), sid, i), lit(vocab.size.toLong))).cast("int"))
    val id = col("doc_id")
    val kind = pmod(id, lit(100L)).cast("double") / 100.0
    def len(d: Column) = (lit(8L) + pmod(d * 37, lit(93L))).cast("int")
    val base = spark.range(0, n, 1, 1).toDF("doc_id")
      .withColumn("len", len(id))
      .withColumn("sid", when(kind < 0.08 && id > 20,
        id - ui(Shape, 3, 1, 20, id)).otherwise(id))
      .withColumn("src_len", len(col("sid")))
      .withColumn("eval", lit(50L) * pmod(h(Shape, 4, id), lit(math.max(1L, n / 50))))
      .withColumn("pos", ui(Shape, 5, 1, 60, id).cast("int"))
    val toks = when(kind < 0.02 && id > 20, // exact copy
        transform(sequence(lit(1), col("src_len")), i => tok(col("sid"), i)))
      .when(kind < 0.08 && id > 20, // near copy
        transform(sequence(lit(1), col("src_len")), i =>
          when(u(Shape, 6, id, i) < 0.02, tok(id, i)).otherwise(tok(col("sid"), i))))
      .when(kind < 0.11, // repetitive
        transform(sequence(lit(1), col("len")), i => tok(id, pmod(i, lit(3)))))
      .when(kind < 0.15 && pmod(id, lit(50L)) =!= 0, // embedded evaluation span
        transform(sequence(lit(1), col("len") + 24), i =>
          when(i >= col("pos") && i < col("pos") + 24,
            tok(col("eval"), i - col("pos") + 1)).otherwise(tok(id, i))))
      .otherwise(transform(sequence(lit(1), col("len")), i => tok(id, i)))
    // evaluation documents are at least 24 tokens long, so a copied
    // span is always a verbatim run of the evaluation text
    val evalToks = transform(sequence(lit(1), greatest(col("len"), lit(24))),
      i => tok(id, i))
    base.withColumn("text", array_join(
        when(pmod(id, lit(50L)) === 0, evalToks).otherwise(toks), " "))
      .select(id,
        col("text"),
        pick(Shape, 7, Seq("en", "en", "en", "zh", "de", "es", "fr"), id).as("lang"),
        concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Faults injected into one broken heal batch: null fractions per
    * column (nullable or required), unparseable numerics per column,
    * and an optional declared column dropped from the file. */
  final case class Faults(nulls: Map[String, Double], garbage: Map[String, Double],
      dropped: Option[String])

  /** One heal batch as header CSV: `rows` lineitem-shaped rows over the
    * contract's 10 declared columns, rendered as text the way a CSV
    * export carries them. `salt` keeps batches of one run distinct. */
  def healBatch(spark: SparkSession, path: String, rows: Long, seed: Long, salt: Int,
      faults: Option[Faults]): Unit = {
    val id = col("id")
    val clean = Seq(
      "l_orderkey" -> (id * 4 + ui(seed, salt + 1, 0, 3, id)).cast("string"),
      "l_partkey" -> ui(seed, salt + 2, 0, 199999, id).cast("string"),
      "l_suppkey" -> ui(seed, salt + 3, 0, 9999, id).cast("string"),
      "l_linenumber" -> ui(seed, salt + 4, 1, 7, id).cast("string"),
      "l_quantity" -> ui(seed, salt + 5, 1, 50, id).cast("double").cast("string"),
      "l_extendedprice" -> round(lit(900.0) + u(seed, salt + 6, id) * 104000.0, 2).cast("string"),
      "l_discount" -> (ui(seed, salt + 7, 0, 10, id).cast("double") / 100.0).cast("string"),
      "l_tax" -> (ui(seed, salt + 8, 0, 8, id).cast("double") / 100.0).cast("string"),
      "l_returnflag" -> pick(seed, salt + 9, Seq("A", "N", "R"), id),
      "l_linestatus" -> pick(seed, salt + 10, Seq("O", "F"), id))
    val f = faults.getOrElse(Faults(Map.empty, Map.empty, None))
    val cols = clean.zipWithIndex.collect { case ((name, c0), k) if !f.dropped.contains(name) =>
      val nulled = f.nulls.get(name).fold(c0)(p =>
        when(u(seed, salt + 20 + k, id) < p, lit(null).cast("string")).otherwise(c0))
      f.garbage.get(name).fold(nulled)(p =>
        when(u(seed, salt + 40 + k, id) < p,
          pick(seed, salt + 60 + k, Seq("n/a", "#ERR", "?", "unknown"), id)).otherwise(nulled))
        .as(name)
    }
    spark.range(0, rows, 1, 4).select(cols: _*)
      .write.mode("overwrite").option("header", "true").csv(path)
  }

  def writeDocuments(spark: SparkSession, dir: String, n: Long, seed: Long): Unit =
    documents(spark, n, seed).coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
}
