package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

object Workloads {
  /** Heal: rows per CSV batch and seeded cycles in the batch pool. */
  val HealRows = 50000L
  val HealPool = 4
  /** Curate: documents per corpus. */
  val CurateDocs = 100L

  def scale(name: String): String = name match {
    case "heal" => s"$HealRows rows x $HealPool cycles"
    case "curate" => s"$CurateDocs documents"
    case "stream" => s"${StreamWorkload.SmallBatch}/${StreamWorkload.LargeBatch}-event batches"
    case _ => ""
  }

  def apply(name: String, seed: Long, work: String): Workload = name match {
    case "heal" => new HealWorkload(seed)
    case "curate" => new CurateWorkload(seed, work)
    case "stream" => new StreamWorkload(seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** The engine keeps persisted llm stores under one fixed root, named
    * `<store>-<dirTag>[-<contentTag>]` where dirTag hashes the table
    * directory. Remove every entry of `dir`, so runs neither share
    * stores nor grow the root. */
  val StoreRoot: Path = Paths.get("/tmp/graft_state")

  private def storeEntries(dir: String): List[Path] = {
    val tag = java.lang.Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir))
    if (!Files.isDirectory(StoreRoot)) Nil
    else {
      val ls = Files.list(StoreRoot)
      try ls.iterator().asScala.toList.filter(
        _.getFileName.toString.split('-').lift(1).exists(_.takeWhile(_ != '.') == tag))
      finally ls.close()
    }
  }

  def dropStores(dir: String): Unit = storeEntries(dir).foreach(deleteTree)

  /** Bytes of the data files under every store entry of `dir`. */
  def storeBytes(dir: String): Long = storeEntries(dir).map { p =>
    val w = Files.walk(p)
    try w.iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".")).map(Files.size).sum
    finally w.close()
  }.sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists) finally w.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally w.close()
  }

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
