package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.jobs.Pipelines._

/** One benchmark workload: the mains a pass runs, in the order a
  * scheduler runs them. Inputs are under `dir/in`, outputs under
  * `dir/out`; perfbench/checks.py checks them after the run. */
sealed trait Workload {
  def mains(pass: Int): Seq[(String, () => Unit)]
}

object Workload {
  def apply(name: String, dir: String): Workload = name match {
    case "tick_drain" => TickDrain(dir)
    case "corpus_curation" => CorpusCuration(dir)
    case "batch_eod" => BatchEod(dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Closed loop: land one 30-minute tick increment, then drain it with
  * StreamingPipeline (AvailableNow). One landing zone, output and
  * checkpoint serve the whole run, as for a scheduler's repeated runs. */
final case class TickDrain(dir: String) extends Workload {
  private val raw = s"$dir/raw"

  def mains(pass: Int) = Seq(
    "land" -> (() => {
      Files.createDirectories(Paths.get(raw))
      val f = f"ticks-$pass%04d.csv"
      Files.move(Paths.get(dir, "in", f), Paths.get(raw, f), StandardCopyOption.ATOMIC_MOVE)
    }),
    "StreamingPipeline" -> (() =>
      StreamingPipeline.main(Array(raw, s"$dir/out/windows", s"$dir/out/checkpoint"))))
}

/** Documents → quality gate → near-dup removal → decontamination →
  * split → packing plan (CorpusPipeline), into a directory per pass. */
final case class CorpusCuration(dir: String) extends Workload {
  def mains(pass: Int) = Seq(
    "CorpusPipeline" -> (() => CorpusPipeline.main(
      Array(s"$dir/in/docs.parquet", s"$dir/in/eval.parquet", s"$dir/out/p$pass"))))
}

/** Raw daily bars → clean bars (BatchPipeline) → marts
  * (TransformPipeline), into a directory per pass. */
final case class BatchEod(dir: String) extends Workload {
  def mains(pass: Int) = Seq(
    "BatchPipeline" -> (() => BatchPipeline.main(Array(s"$dir/in/raw", s"$dir/out/p$pass/bars"))),
    "TransformPipeline" -> (() =>
      TransformPipeline.main(Array(s"$dir/out/p$pass/bars", s"$dir/out/p$pass/marts"))))
}
