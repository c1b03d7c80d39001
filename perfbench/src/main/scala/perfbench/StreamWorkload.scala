package perfbench

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{DqAlert, Event}

/** `EventStreams.dqTrend`, the DQ gate's streaming twin, fed from an
  * in-process MemoryStream in closed loop: the harness adds one
  * micro-batch of a fixed size, waits until the query has committed it,
  * and adds the next. Small and large batches alternate, so one run
  * times both the per-batch floor (planning, state-store commit, WAL)
  * and the per-event cost at full load. */
final class StreamWorkload(seed: Long) extends Workload {
  import StreamWorkload._

  private var runs = 0
  private val small = ArrayBuffer.empty[Double]
  private val large = ArrayBuffer.empty[Double]
  private var ckptRoot = ""
  private var warm: Option[Feed] = None

  def setup(spark: SparkSession, dir: String): Unit = ckptRoot = dir

  /** Starts the query the timed batches then run on, so that none of
    * them pays for a query start. */
  def warmUp(spark: SparkSession): Unit = {
    val feed = new Feed(spark)
    (1 to WarmUpPairs).foreach(_ => feed.pair())
    warm = Some(feed)
  }

  def measure(spark: SparkSession, seconds: Double): Unit = {
    val feed = warm.getOrElse(new Feed(spark))
    warm = None
    val t0 = System.nanoTime()
    while (Workloads.seconds(t0) < seconds) {
      val (ts, tl) = feed.pair()
      small += ts; large += tl
    }
    attempted += small.size + large.size
    if (!feed.close()) failed += small.size + large.size
  }

  /** A fixed amount of work on a query of its own. */
  def unit(spark: SparkSession, seconds: Double): Unit = {
    warm.foreach(_.close())
    warm = None
    val feed = new Feed(spark)
    (1 to UnitPairs).foreach(_ => feed.pair())
    attempted += 2 * UnitPairs
    if (!feed.close()) failed += 2 * UnitPairs
  }

  /** One dqTrend query over a MemoryStream, and the feed added so far
    * in generation (= event-time) order. */
  private final class Feed(spark: SparkSession) {
    import spark.implicits._
    runs += 1
    private val run = runs
    private val rng = new java.util.SplittableRandom(seed * 1000003L + run)
    private val mem = MemoryStream[Event](spark, Partitions)
    private val alerts = new java.util.concurrent.ConcurrentLinkedQueue[DqAlert]()
    // the default 10 ms poll between empty triggers would be part of
    // every batch's time
    spark.conf.set("spark.sql.streaming.pollingDelay", "1ms")
    private val query = EventStreams.dqTrend(spark, mem.toDS(), Threshold, MinSeen).writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$ckptRoot/ckpt$run")
      .foreachBatch((ds: Dataset[DqAlert], _: Long) => ds.collect().foreach(alerts.add))
      .start()
    private val users = ArrayBuffer.empty[Int]
    private val errors = ArrayBuffer.empty[Boolean]

    private def batch(n: Int): Seq[Event] = (0 until n).map { _ =>
      val u = rng.nextInt(Users)
      val err = rng.nextDouble() < (if (u % 10 == 0) 0.35 else 0.15)
      val id = users.size.toLong
      users += u; errors += err
      Event(id, new Timestamp(Epoch0Ms + id), u.toLong,
        if (err) "error" else Types(rng.nextInt(Types.size)), rng.nextInt(10000) / 100.0)
    }

    /** Seconds from adding `n` events to the commit of their batch. */
    private def timed(n: Int): Double = {
      val events = batch(n)
      val t0 = System.nanoTime()
      mem.addData(events)
      query.processAllAvailable()
      Workloads.seconds(t0)
    }

    def pair(): (Double, Double) = {
      val p = (timed(SmallBatch), timed(LargeBatch))
      BenchMain.say(f"stream query $run batches ${p._1}%.3f s / ${p._2}%.3f s")
      p
    }

    /** Stops the query and checks its alerts against a replay. */
    def close(): Boolean = {
      query.stop()
      val progress = query.recentProgress.count(_.numInputRows > 0)
      check(s"stream query $run alerts == batch replay of the dqTrend rule",
        alertKey(alerts.toArray(Array.empty[DqAlert]).toSeq) ==
          replay(users.toArray, errors.toArray),
        s"${alerts.size} streamed alerts differ from the replay") &
        check(s"stream query $run one batch per addition",
          progress == 2 * (users.size / (SmallBatch + LargeBatch)),
          s"$progress batches with input for ${users.size} events")
    }
  }

  def named: Seq[(String, Double, String)] = Seq(
    ("stream.small_batch_s", Stats.median(small.toSeq), "s"),
    ("stream.large_batch_s", Stats.median(large.toSeq), "s"),
    ("stream.sustained_eps", LargeBatch / Stats.median(large.toSeq), "events/s"),
    ("stream.batches", (small.size + large.size).toDouble, "count"))

  def fastSlow: (Double, Double) = (Stats.median(small.toSeq), Stats.median(large.toSeq))
}

object StreamWorkload {
  /** Events per small and per large micro-batch. */
  val SmallBatch = 1000
  val LargeBatch = 50000
  /** Pairs of batches in the warm-up and in one traced unit. */
  val WarmUpPairs = 6
  val UnitPairs = 4
  val Users = 2000
  /** MemoryStream otherwise makes one partition per added chunk. */
  val Partitions = 4
  val Types: Seq[String] = Seq("signup", "click", "view", "purchase")
  val Threshold = 0.25
  val MinSeen = 50L
  /** Event time of event 0; event i is i ms later. */
  val Epoch0Ms = 1700000000000L

  private def alertKey(as: Seq[DqAlert]) =
    as.map(a => (a.user_id, a.n_seen, a.error_fraction)).sorted

  /** dqTrend's rule over the whole feed in event-time order. */
  def replay(users: Array[Int], errors: Array[Boolean]): Seq[(Long, Long, Double)] = {
    val n = new Array[Long](Users); val e = new Array[Long](Users)
    val alerted = new Array[Boolean](Users)
    val out = ArrayBuffer.empty[(Long, Long, Double)]
    users.indices.foreach { i =>
      val u = users(i)
      n(u) += 1; if (errors(i)) e(u) += 1
      val frac = e(u).toDouble / n(u)
      if (n(u) >= MinSeen && frac > Threshold && !alerted(u)) {
        out += ((u.toLong, n(u), frac)); alerted(u) = true
      } else if (alerted(u) && frac <= Threshold) alerted(u) = false
    }
    out.toSeq.sorted
  }
}
