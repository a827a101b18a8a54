package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** What one harness process runs, as written by `run.py`.
  *
  * One `key value...` line each. `op` lines list the workload's
  * operations in verification order; each `pass` line is the seeded
  * order of one timed pass.
  */
final case class Plan(
    workload: String,
    seed: Long,
    trace: Boolean,
    launchMs: Long,
    data: String,
    out: String,
    cores: Int,
    ops: Seq[String],
    passes: Seq[Seq[String]],
    dump: String,
    chunks: Int)

object Plan {
  def read(path: String): Plan = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.split("\\s+").toSeq)
    def one(k: String, dflt: String = ""): String =
      lines.find(_.head == k).map(_.drop(1).mkString(" ")).getOrElse(dflt)
    Plan(
      workload = one("workload"),
      seed = one("seed", "0").toLong,
      trace = one("trace", "0") == "1",
      launchMs = one("launch_ms", "0").toLong,
      data = one("data"),
      out = one("out"),
      cores = one("cores", "4").toInt,
      ops = lines.filter(_.head == "op").map(_(1)),
      passes = lines.filter(_.head == "pass").map(_.drop(1)),
      dump = one("dump"),
      chunks = one("chunks", "16").toInt)
  }
}
