package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.config.PipelineConfig
import graft.runner.PipelineRunner
import Gen.Faults

/** The self-healing loop: each cycle runs one clean and one broken
  * batch through `PipelineRunner.runDemo` on a fresh copy of the
  * contract and profile. Closed loop: the next cycle starts when the
  * previous one ends. */
final class HealWorkload(seed: Long) extends Workload {
  import HealWorkload._

  private var dir = ""
  private val baseline = ArrayBuffer.empty[Double]
  private val recover = ArrayBuffer.empty[Double]
  private val cycles = ArrayBuffer.empty[Map[String, Any]]
  private var nCycles = 0

  /** The seeded fault mix of pool cycle `c`. Every cycle nulls one
    * nullable column past its limit and garbles another; even cycles
    * also null the required `l_partkey`; the last pool cycle drops a
    * declared column, which the healer cannot repair. The seed picks
    * the columns and the fractions, not the structure, so every seed
    * times the same kinds of cycle. */
  private def faults(c: Int): Faults = {
    val r = new scala.util.Random(seed * 1000003L + c)
    val Seq(nullCol, junkCol) = r.shuffle(Nullable).take(2)
    val required = if (c % 2 == 0) Map("l_partkey" -> (0.01 + 0.04 * r.nextDouble())) else Map()
    Faults(
      nulls = Map(nullCol -> (0.15 + 0.25 * r.nextDouble())) ++ required,
      garbage = Map(junkCol -> (0.02 + 0.08 * r.nextDouble())),
      dropped = if (c == Workloads.HealPool - 1) Some(r.shuffle(Droppable).head) else None)
  }

  private def batch(c: Int, kind: String) = s"$dir/cycle$c/$kind"

  def setup(spark: SparkSession, dir: String): Unit = {
    this.dir = dir
    (0 until Workloads.HealPool).foreach { c =>
      Gen.healBatch(spark, batch(c, "clean"), Workloads.HealRows, seed, 1000 * c, None)
      Gen.healBatch(spark, batch(c, "broken"), Workloads.HealRows, seed, 1000 * c + 500,
        Some(faults(c)))
    }
  }

  /** Two full-size cycles: cycle times keep falling for several cycles
    * after the first (JIT), and a warm-up on a small pair left the next
    * full-size cycle twice as slow as the rest. */
  def warmUp(spark: SparkSession): Unit = (0 until 2).foreach { c =>
    runCycle(spark, batch(c, "clean"), batch(c, "broken"), s"warm$c")
  }

  /** One cycle; returns the incidents and the clock's stamps (ns). */
  private def runCycle(spark: SparkSession, clean: String, broken: String, tag: String) = {
    val cdir = s"$dir/runs/$tag"
    val cfgPath = s"$cdir/pipeline_config.yml"
    PipelineConfig.save(PipelineConfig.fromYaml(contract(s"$cdir/reference_profile.json")), cfgPath)
    val stamps = ArrayBuffer.empty[Long]
    val runner = new PipelineRunner(spark, cfgPath, s"$dir/warehouse", s"$dir/incidents",
      () => { stamps += System.nanoTime(); f"$tag-${stamps.size}%d" })
    val t0 = System.nanoTime()
    val incidents = runner.runDemo(clean, broken)
    (incidents, t0 +: stamps.toSeq)
  }

  private def cycle(spark: SparkSession, c: Int): Unit = {
    val tag = f"c$nCycles%04d"
    nCycles += 1
    attempted += 1
    val (incidents, stamps) = runCycle(spark, batch(c, "clean"), batch(c, "broken"), tag)
    val got = incidents.map(i => s"${i.stage}/${i.status}")
    val want = Seq("baseline/success", "drifted/failed", "healing/healing_actions_applied",
      if (faults(c).dropped.isDefined) "post_healing/failed_after_healing"
      else "post_healing/healed_success")
    if (check(s"heal $tag statuses", got == want, s"got $got, want $want") && stamps.size == 5) {
      baseline += (stamps(1) - stamps(0)) / 1e9
      recover += (stamps(4) - stamps(1)) / 1e9
      BenchMain.say(f"heal $tag baseline ${baseline.last}%.3f s recover ${recover.last}%.3f s")
    } else failed += 1
    cycles += Map("cycle" -> tag, "clean" -> batch(c, "clean"), "broken" -> batch(c, "broken"),
      "dropped" -> faults(c).dropped.getOrElse(""),
      "incidents" -> incidents.map(i => Map("stage" -> i.stage, "issues" -> i.issues_json)))
  }

  /** Whole passes over the pool, so every run times the same mix of
    * cycles (the recovery time depends on the cycle's faults). */
  def measure(spark: SparkSession, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    while (Workloads.seconds(t0) < seconds) (0 until Workloads.HealPool).foreach(cycle(spark, _))
  }

  def unit(spark: SparkSession, seconds: Double): Unit = (0 until 2).foreach(cycle(spark, _))

  override def traceExtra(layers: Map[String, Double]): Map[String, Double] =
    Map("runner.driver_s" -> layers("scheduler.driver_gap_s"))

  def named: Seq[(String, Double, String)] = Seq(
    ("heal.baseline_s", Stats.median(baseline.toSeq), "s"),
    ("heal.recover_s", Stats.median(recover.toSeq), "s"),
    ("heal.cycles", nCycles.toDouble, "count"))

  def fastSlow: (Double, Double) = (Stats.median(baseline.toSeq), Stats.median(recover.toSeq))

  override def pyChecks: Map[String, Any] = Map("heal_cycles" -> cycles.toSeq,
    "declared" -> Declared)
}

object HealWorkload {
  /** The contract's 10 declared columns: name -> declared type. */
  val Declared: Seq[(String, String)] = Seq(
    "l_orderkey" -> "int", "l_partkey" -> "int", "l_suppkey" -> "int", "l_linenumber" -> "int",
    "l_quantity" -> "float", "l_extendedprice" -> "float", "l_discount" -> "float",
    "l_tax" -> "float", "l_returnflag" -> "string", "l_linestatus" -> "string")
  val Nullable: Seq[String] = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  val Droppable: Seq[String] = Seq("l_suppkey", "l_linenumber", "l_linestatus")

  def contract(profilePath: String): String =
    s"""warehouse_path: ""
       |table_name: lineitem
       |source_path: ""
       |columns:
       |  l_orderkey: {type: int, required: true}
       |  l_partkey: {type: int, required: true}
       |  l_suppkey: {type: int, required: false}
       |  l_linenumber: {type: int, required: false}
       |  l_quantity: {type: float, required: false, max_null_fraction: 0.05}
       |  l_extendedprice: {type: float, required: false, max_null_fraction: 0.05}
       |  l_discount: {type: float, required: false, max_null_fraction: 0.1}
       |  l_tax: {type: float, required: false, max_null_fraction: 0.1}
       |  l_returnflag: {type: string, required: false}
       |  l_linestatus: {type: string, required: false}
       |quality: {row_count_min: 1000}
       |drift: {profile_path: "$profilePath", mean_relative_tolerance: 0.5}
       |""".stripMargin
}
