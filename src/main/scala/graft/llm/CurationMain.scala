package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}

/** End-to-end training-data curation recipe — the capstone composition
  * of the `graft.llm` operators into one runnable pipeline:
  *
  *   1. quality filter   — percentile length band + repetition ratio
  *   2. exact dedup      — one survivor per sha-256 content hash
  *   3. near-dup dedup   — exact Jaccard ≥ 0.8 pairs READ from the
  *                         persisted pair-graph store ([[PairGraph]]),
  *                         greedy keep-lowest-doc_id
  *   4. decontamination  — (a) SPAN strip: maximal ≥ 20-token runs of
  *                         eval-slice shingles (doc_id % 50 == 0) are
  *                         removed from the TRAIN side only (the
  *                         q414/q422 contamination screens turned
  *                         into removal predicates — salvage the doc,
  *                         cut the leak; membership streaks, so spans
  *                         EMBEDDED in longer train-side runs are
  *                         caught too); then (b) doc drop: docs still
  *                         sharing any 4-gram with the eval slice are
  *                         dropped — the zero-overlap guarantee
  *   5. ExactSubstr cut  — within-corpus span dedup (q420): keep each
  *                         duplicated ≥ 20-token run's first site,
  *                         strip the rest (Lee et al. 2022 — the
  *                         substring-level pass doc dedup can't do)
  *   6. split            — deterministic sha-256 train/val/test
  *
  * Writes the curated corpus partitioned by split and prints one JSON
  * funnel line (doc counts after every stage). Stages 1–5 each end at a
  * stage barrier ([[barrier]]), so the next stage plans over a leaf scan
  * of materialized rows and every plan covers one stage, not the
  * recipe's whole ancestry. The funnel reads one count per stage, the
  * two stripped-token sums and one per-split count off those barriers.
  * The barriers keep no lineage: losing an executor fails the pass
  * instead of recomputing the stage.
  */
object CurationMain {

  final case class Funnel(input: Long, afterQuality: Long, afterExact: Long,
    afterNearDup: Long, afterDecontam: Long, train: Long, `val`: Long, test: Long,
    decontamTokensStripped: Long = 0L, cutTokensRemoved: Long = 0L)

  /** Near-dup drop set (the higher doc_id of every exact-Jaccard ≥ 0.8
    * pair), served from the persisted pair graph — factored so the
    * spec can assert the plan reads the state table. */
  private[graft] def nearDupDrops(spark: SparkSession, sfDir: String): DataFrame =
    PairGraph.jaccard(spark, sfDir, 0.8)
      .select(col("d2").as("doc_id")).distinct()

  /** Stage barrier: materializes `df` now (eager `localCheckpoint`) and
    * returns a frame whose plan is a leaf over those rows. A `.cache()`d
    * stage keeps its ancestry in the plan instead — every
    * `InMemoryTableScan` prints its relation's whole cached plan, and
    * `exact` and `clean` read their input twice — so the descriptions
    * Spark renders per execution and per AQE stage would grow with the
    * whole recipe (tens of MB per pass on a 100-document corpus).
    * Trade-off: the rows live only in executor block storage with no
    * lineage behind them, so a lost executor fails the pass instead of
    * recomputing the stage. */
  private def barrier(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** The whole recipe as a function (spec-testable without the sink).
    * `dupRunMinTokens` is the span-stage cut threshold (stages 4a and
    * 5), defaulting to the committed
    * [[TextDedup.DupRunMinTokens]] — threaded as config (round-15
    * verdict Next #6) so an operator acting on the q416 planner's
    * threshold curve re-runs the recipe at the chosen cut; the
    * catalog store is threshold-keyed, so no stale serve. */
  def curate(spark: SparkSession, sfDir: String,
      dupRunMinTokens: Int = TextDedup.DupRunMinTokens): (DataFrame, Funnel) = {
    val docs = Tables(spark, sfDir, "documents").cache()

    // 1. quality: length inside [p05, p95] AND 3-gram repetition ≤ 0.2
    val bounds = docs.agg(
      expr("percentile(n_chars, 0.05)").as("p05"),
      expr("percentile(n_chars, 0.95)").as("p95"))
    val qual = barrier(docs.crossJoin(broadcast(bounds))
      .filter(col("n_chars") >= col("p05") && col("n_chars") <= col("p95"))
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .filter(
        lit(1.0) - expr("""size(array_distinct(transform(
            |  sequence(1, size(toks) - 2),
            |  i -> concat_ws(' ', slice(toks, i, 3)))))""".stripMargin)
          / (size(col("toks")) - 2) <= 0.2)
      .drop("toks"))

    // 2. exact dedup: keep the lowest doc_id per content hash
    val canonical = qual.groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val exact = barrier(qual.join(canonical, Seq("doc_id"), "left_semi"))

    // 3. near-dup: exact Jaccard ≥ 0.8 pairs read from the PERSISTED
    // pair graph (round 10 — the warm path the fifteen diagnostics
    // already ride): the funnel no longer re-derives the corpus
    // self-join per run, and the near-dup stage touches no document
    // text at all (CurationSpec pins the plan: a state-table scan,
    // zero documents-parquet scans). SEMANTICS NOTE (round-10 advice):
    // the store's Jaccard is over the DfCap=512-CAPPED shingle
    // universe (stop-shingles with df > cap excluded from both
    // numerator and denominator) while the replaced q35 LSH path
    // verified UNCAPPED Jaccard — the two drop sets can diverge in
    // either direction on docs dominated by boilerplate shingles.
    // The capped metric is the one this engine treats as canonical
    // (q34's definition; boilerplate co-occurrence is noise, not
    // similarity), and it removes the LSH path's banding miss
    // (P ≈ 1e-5/pair) as a side effect. CurationSpec pins equality
    // of the two drop sets on the current fixture.
    val near = barrier(exact.join(broadcast(nearDupDrops(spark, sfDir)),
      Seq("doc_id"), "left_anti"))

    // 4a. SPAN decontamination (round-14 verdict Next #8 — the q414
    // screen as removal predicates): verbatim >= threshold-token runs
    // shared with the eval slice are stripped from the TRAIN side
    // only, salvaging the doc where the 4-gram drop would discard it;
    // the benchmark text itself is never modified. The eval side is
    // the PERSISTED shingle store (round-15 verdict Next #8) — the
    // slice's posexplode runs once per corpus, and the strip probes
    // the train frame single-sided. CurationSpec pins the
    // one-sidedness on a planted span.
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val stripped = barrier(DupRunStore.stripSharedSpansServed(spark, sfDir,
      near.filter(col("doc_id") % 50 =!= 0), dupRunMinTokens))
    def sumLong(d: DataFrame, c: String): Long =
      Option(d.agg(sum(col(c))).head.get(0)).fold(0L)(_.asInstanceOf[Long])
    val decontamTok = sumLong(stripped, "n_removed")

    // 4b. doc drop: anything STILL sharing a 4-gram with the eval
    // slice (shorter-than-span leaks — the membership streak already
    // catches embedded spans) — the zero-overlap guarantee stays a
    // drop, computed on the stripped text
    def grams(d: DataFrame) = d
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 4)
      .select(col("doc_id"), explode(array_distinct(expr(
        """transform(sequence(1, size(toks) - 3),
          |  i -> sha2(concat_ws(' ', slice(toks, i, 4)), 256))""".stripMargin))).as("g"))
    val benchGrams = grams(bench).select(col("g")).distinct()
    val contaminated = grams(stripped)
      .join(broadcast(benchGrams), Seq("g"))
      .select(col("doc_id")).distinct()
    val clean = barrier(stripped.drop("n_removed")
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti"))

    // 5. within-corpus ExactSubstr cut (q420's transform, Lee et al.
    // 2022): keep each duplicated run's first site, strip the rest —
    // the substring-level pass that catches the partial copying doc
    // dedup structurally cannot (n_chars recomputed: the text changed).
    // DELIBERATELY an in-plan re-extraction over the CURATED subset,
    // never a read of the persisted pre-filter catalog (round-15
    // verdict Missing #3, now spec-pinned): earlier stages REMOVE
    // docs, and a run whose only other sites lived in removed docs is
    // no longer duplicated here — cutting it against pre-filter state
    // would destroy unique text. CurationSpec constructs exactly that
    // disagreement; swapping this for a catalogSites read fails it.
    val cut = barrier(DupRunStore.exactSubstrCut(clean, dupRunMinTokens))
    val cutTok = sumLong(cut, "n_removed")
    val cleanCut = cut.drop("n_removed")
      .withColumn("n_chars", length(col("text")).cast("long"))

    // 6. deterministic split
    val h1 = substring(sha2(col("doc_id").cast("string"), 256), 1, 1)
    val curated = cleanCut.withColumn("split",
      when(h1 < "c", "train").when(h1 < "e", "val").otherwise("test"))

    val bySplit = curated.groupBy(col("split")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val funnel = Funnel(
      input = docs.count(), afterQuality = qual.count(), afterExact = exact.count(),
      afterNearDup = near.count(), afterDecontam = clean.count(),
      train = bySplit.getOrElse("train", 0L), `val` = bySplit.getOrElse("val", 0L),
      test = bySplit.getOrElse("test", 0L),
      decontamTokensStripped = decontamTok, cutTokensRemoved = cutTok)
    (curated, funnel)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_curated").toString)
    // optional third arg: the span-stage cut threshold in tokens (the
    // q416 planner's operating point — e.g. 50 for the Lee et al.
    // 100 TB setting)
    val minTokens = args.lift(2).map(_.toInt)
      .getOrElse(TextDedup.DupRunMinTokens)
    val spark = GraftSession.local("graft-curation")
    try {
      val (curated, f) = curate(spark, sfDir, minTokens)
      curated.write.mode("overwrite").partitionBy("split").parquet(outDir)
      println(s"""{"curation_funnel":{"input":${f.input},"after_quality":${f.afterQuality},""" +
        s""""after_exact_dedup":${f.afterExact},"after_near_dup":${f.afterNearDup},""" +
        s""""after_decontam":${f.afterDecontam},"train":${f.train},"val":${f.`val`},""" +
        s""""test":${f.test},"decontam_tokens_stripped":${f.decontamTokensStripped},""" +
        s""""cut_tokens_removed":${f.cutTokensRemoved},"out":"$outDir"}}""")
    } finally spark.stop()
  }
}
