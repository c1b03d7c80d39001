package perfbench

import java.nio.file.Paths
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.llm.CurationMain

/** The curation recipe, raw corpus to curated splits written. Each
  * operation runs passes over one staged copy of the corpus: a cold
  * pass, with no persisted store for that directory, then warm passes
  * that find the stores the cold pass left. */
final class CurateWorkload(seed: Long, work: String) extends Workload {
  import CurateWorkload.WarmPasses

  private var dir = ""
  private val cold = ArrayBuffer.empty[Double]
  private val warm = ArrayBuffer.empty[Double]
  private val passes = ArrayBuffer.empty[Map[String, Any]]
  private val staged = ArrayBuffer.empty[String]
  private var nOps = 0

  def setup(spark: SparkSession, dir: String): Unit = {
    this.dir = dir
    Gen.writeDocuments(spark, dir, Workloads.CurateDocs, seed)
  }

  /** An untimed cold and warm pass over another corpus of the same
    * size: pass times keep falling for the first passes of a JVM (JIT). */
  def warmUp(spark: SparkSession): Unit = {
    Gen.writeDocuments(spark, s"$dir/warm", Workloads.CurateDocs, seed + 1)
    op(spark, s"$dir/warm", record = false, warmPasses = 1)
  }

  /** One pass; returns (seconds, funnel). Tables memoizes per
    * directory, so every corpus copy is a fresh relation. */
  private def pass(spark: SparkSession, corpus: String, out: String) = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val (curated, funnel) = CurationMain.curate(spark, corpus)
    curated.write.mode("overwrite").partitionBy("split").parquet(out)
    (Workloads.seconds(t0), funnel)
  }

  /** One operation: a cold pass over a fresh copy of the corpus in
    * `source`, then `warmPasses` warm passes over the same copy. Only a
    * recorded operation adds samples and counts as attempted. */
  private def op(spark: SparkSession, source: String = dir, record: Boolean = true,
      warmPasses: Int = WarmPasses): Unit = {
    val corpus = s"$work/corpus/p$nOps"
    nOps += 1
    Workloads.deleteTree(Paths.get(corpus))
    Workloads.dropStores(corpus)
    staged += corpus
    Workloads.copyTree(Paths.get(s"$source/documents.parquet"), Paths.get(s"$corpus/documents.parquet"))
    if (record) attempted += 1 + warmPasses
    val (tc, fc) = pass(spark, corpus, s"$corpus/out_cold")
    BenchMain.say(f"curate $corpus cold ${tc}%.3f s")
    val warmRuns = (1 to warmPasses).map { i =>
      val (tw, fw) = pass(spark, corpus, s"$corpus/out_warm$i")
      BenchMain.say(f"curate $corpus warm$i ${tw}%.3f s")
      (s"warm$i", tw, fw)
    }
    val ok = warmRuns.map { case (kind, _, fw) =>
      check(s"curate $corpus cold funnel == $kind funnel", fc == fw, s"$fc vs $fw")
    }.forall(identity) &
      check(s"curate $corpus funnel input", fc.input == Workloads.CurateDocs, fc.toString) &
      check(s"curate $corpus funnel narrows", Seq(fc.input, fc.afterQuality, fc.afterExact,
        fc.afterNearDup, fc.afterDecontam).sliding(2).forall(p => p(0) >= p(1)) &&
        fc.train + fc.`val` + fc.test == fc.afterDecontam, fc.toString)
    if (record) {
      if (ok) { cold += tc; warm ++= warmRuns.map(_._2) } else failed += 1 + warmPasses
    }
    (("cold", tc, fc) +: warmRuns).foreach { case (kind, _, f) =>
      passes += Map("out" -> s"$corpus/out_$kind",
        "splits" -> Map("train" -> f.train, "val" -> f.`val`, "test" -> f.test))
    }
  }

  def measure(spark: SparkSession, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    while (Workloads.seconds(t0) < seconds) op(spark)
  }

  /** A cold and one warm pass: three units fit the traced run's time. */
  def unit(spark: SparkSession, seconds: Double): Unit = op(spark, warmPasses = 1)

  override def traceExtra(layers: Map[String, Double]): Map[String, Double] =
    Map("llm.store.bytes_on_disk" -> Workloads.storeBytes(staged.last).toDouble)

  def named: Seq[(String, Double, String)] = Seq(
    ("curate.cold_s", Stats.median(cold.toSeq), "s"),
    ("curate.warm_s", Stats.median(warm.toSeq), "s"),
    ("curate.cold_passes", cold.size.toDouble, "count"),
    ("curate.warm_passes", warm.size.toDouble, "count"))

  def fastSlow: (Double, Double) = (Stats.median(warm.toSeq), Stats.median(cold.toSeq))

  override def pyChecks: Map[String, Any] = Map("curate_passes" -> passes.toSeq)

  override def storeDirs: Seq[String] = staged.toSeq
}

object CurateWorkload {
  /** Warm passes per cold pass: a warm pass is the shorter and steadier
    * of the two, so a run takes several of it. */
  val WarmPasses = 2
}
