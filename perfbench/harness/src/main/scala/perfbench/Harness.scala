package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run in one JVM, the way a scheduler runs the mains:
  * no session of its own while passes run, so each main builds and
  * stops the program's own session (`Pipelines.withSession` would
  * reuse any session found here and silently replace the
  * configuration under test).
  *
  * Pass 0 is the untimed cold pass that ends set-up. Timed passes
  * follow until `seconds` have gone by and at least `minPasses` ran.
  * A traced run alternates untraced and traced passes, starting and
  * (with its minimum of three) ending untraced, so the tracing overhead
  * is measured in the same JVM with warm-up drift cancelled; the
  * listeners are switched through the system properties each new
  * SparkConf reads.
  *
  * usage: Harness <workload> <run dir> <seconds> <trace 0|1> <cores> <min passes> <max passes>
  * Writes result.json, and for a traced run trace.json and
  * callsites.tsv, into the run dir. */
object Harness {
  private val ListenerProps = Seq("spark.extraListeners", "spark.sql.streaming.streamingQueryListeners")

  final case class Pass(i: Int, wallS: Double, traced: Boolean, error: Option[String],
                        stealShare: Double, layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val Array(name, dir, secondsArg, traceArg, coresArg, minArg, maxArg) = args
    val seconds = secondsArg.toDouble
    val tracing = traceArg == "1"
    val cores = coresArg.toInt
    val workload = Workload(name, dir)
    val listeners = ListenerProps.flatMap(k => sys.props.get(k).map(k -> _))
    require(tracing == listeners.nonEmpty, "a traced run names its listeners as system properties")

    val spans = mutable.ArrayBuffer.empty[Layers.Span]
    val sites = mutable.Map.empty[String, Layers.Site]
    def span(parent: Int, kind: String, name: String, start: Long, end: Long) = {
      val s = Layers.Span(spans.size, parent, kind, name, start, end)
      spans += s
      s
    }
    val runSpan = span(-1, "run", name, System.currentTimeMillis(), 0L)

    def pass(i: Int, traced: Boolean): Pass = {
      listeners.foreach { case (k, v) => if (traced) System.setProperty(k, v) else System.clearProperty(k) }
      val startMs = System.currentTimeMillis()
      val cpu0 = Host.cpuTicks()
      val t0 = System.nanoTime()
      val passId = spans.size
      spans += null // filled in below, once the pass has ended
      val mains = mutable.ArrayBuffer.empty[Layers.Span]
      val error =
        try {
          workload.mains(i).foreach { case (main, f) =>
            val s = System.currentTimeMillis()
            try f() finally mains += span(passId, "main", main, s, System.currentTimeMillis())
          }
          None
        } catch { case NonFatal(e) => Some(e.toString) }
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpu1 = Host.cpuTicks()
      val passSpan = Layers.Span(passId, runSpan.id, "pass", s"p$i${if (traced) " traced" else ""}",
        startMs, System.currentTimeMillis())
      spans(passId) = passSpan
      val events = Trace.drain()
      val layers =
        if (traced) Layers.passMetrics(events, passSpan, mains.toSeq, cores, spans, sites) else Map.empty[String, Double]
      error.foreach(e => System.err.println(s"[perfbench] pass $i failed: $e"))
      Pass(i, wallS, traced, error, (cpu1._2 - cpu0._2).toDouble / math.max(1L, cpu1._1 - cpu0._1), layers)
    }

    val cold = pass(0, tracing)
    val setupEndMs = System.currentTimeMillis()
    val timed = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while (timed.size < maxArg.toInt &&
      ((System.nanoTime() - t0) / 1e9 < seconds || timed.size < minArg.toInt)) {
      timed += pass(timed.size + 1, tracing && timed.size % 2 == 1)
    }
    val peakRssMb = vmHwmMb()
    val hostMops = Host.mops()
    spans(runSpan.id) = runSpan.copy(endMs = System.currentTimeMillis())

    import Json._
    def passJson(p: Pass) = obj("i" -> p.i, "wall_s" -> p.wallS, "traced" -> p.traced,
      "error" -> p.error.orNull, "steal_share" -> p.stealShare, "layers" -> p.layers)
    write(s"$dir/result.json", obj(
      "workload" -> name,
      "setup_end_ms" -> setupEndMs,
      "cold" -> passJson(cold),
      "passes" -> timed.map(passJson).toSeq,
      "peak_rss_mb" -> peakRssMb,
      "host_mops" -> hostMops))
    if (tracing) {
      write(s"$dir/trace.json", "[\n" + spans.map(s => obj("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)).mkString(",\n") + "\n]\n")
      write(s"$dir/callsites.tsv", ("site\tmodule\texecutions\tjobs\ttasks\ttask_s\twall_s" +:
        sites.toSeq.sortBy(-_._2.wallS).map { case (k, s) =>
          f"$k\t${s.module}\t${s.execs}\t${s.jobs}\t${s.tasks}\t${s.taskS}%.3f\t${s.wallS}%.3f"
        }).mkString("", "\n", "\n"))
    }
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  private def vmHwmMb(): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toLong / 1024.0
    finally f.close()
  }

  private def write(path: String, s: Any): Unit = Files.write(Paths.get(path), s.toString.getBytes("UTF-8"))
}

object Host {
  @volatile private var sink = 0L

  /** (all, steal) CPU ticks of the host so far, from /proc/stat: the
    * steal share of a pass shows time the hypervisor gave to other guests. */
  def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = f.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
      (t.sum, t(7))
    } finally f.close()
  }

  /** A JVM-only host-speed reading taken beside each run, so that runs on
    * a loaded host show. Median of five timings of a fixed integer mixing
    * loop, in million steps per second. Not a gate. */

  def mops(): Double = {
    val n = 1 << 27
    val rates = (1 to 5).map { _ =>
      val t = System.nanoTime()
      var x = 0L; var acc = 0L; var k = 0
      while (k < n) {
        x += 0x9E3779B97F4A7C15L
        var z = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        acc ^= z ^ (z >>> 31)
        k += 1
      }
      sink = acc
      n / ((System.nanoTime() - t) / 1e3)
    }.sorted
    rates(2)
  }
}

/** Just enough JSON for the result files. */
object Json {
  final case class Raw(s: String) { override def toString = s }
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))
  private def str(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  private def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }.mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
  }
}
