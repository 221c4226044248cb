package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** The outcome of one op's output check: rows seen and the first
  * mismatch against the oracle, if any. */
final case class Verdict(rows: Long, mismatch: Option[String])

/** One operation of a round. `exec` runs the timed body and hands back
  * the untimed check of its output. */
final case class Call(kind: String, exec: Tracer => (() => Verdict))

object Call {
  def apply[O](kind: String)(body: Tracer => O)(check: O => Verdict): Call =
    Call(kind, (tr: Tracer) => { val out = body(tr); () => check(out) })
}

/** A workload: inputs built from a seed, then rounds of calls whose
  * expected answers are computed before the round is timed. */
trait Workload {
  def opTypes: Seq[String]

  /** Generates the inputs and builds the stores under `dir`. */
  def build(spark: SparkSession, dir: Path, tr: Tracer): Unit

  /** The calls of round `r`, with their expected answers ready. */
  def round(r: Int): Seq[Call]
}

object Main {
  /** Task threads of the session: fixed, and no more than the host has. */
  val Cores: Int = math.min(2, Runtime.getRuntime.availableProcessors())
  /** Set-up repeats of input generation and store build; the median counts. */
  val Builds = 3
  /** Untimed rounds before timing, so lazy set-up, codegen and JIT have
    * settled. A fixed count, so set-up does the same work in every run;
    * under C1 the second round already runs within about a tenth of the
    * later ones. */
  val WarmupRounds = 1

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val entry = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = opts.getOrElse(k, sys.error(s"--$k is required"))
    val name = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = Paths.get(arg("dir"))
    val traceOut = Paths.get(arg("trace-out"))
    println(s"perfbench: workload=$name seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} cores=$Cores")

    val st0 = System.nanoTime()
    val selfTest = SelfTest.run()
    // time spent computing or checking expected answers, kept out of setup_s
    var oracleNs = System.nanoTime() - st0
    selfTest.foreach(f => System.err.println(s"perfbench: oracle self-test failed: $f"))

    val workload: Workload = name match {
      case "interval" => new IntervalWorkload(seed)
      case "motif" => new MotifWorkload(seed)
      case "fixpoint" => new FixpointWorkload(seed)
      case other => sys.error(s"unknown workload $other")
    }
    val tr = new Tracer(traced)
    val log = new JobLog
    val epochMs0 = System.currentTimeMillis()
    val nano0 = System.nanoTime()
    def toEpochMs(t: Long): Double = epochMs0 + (t - nano0) / 1e6

    val s0 = System.nanoTime()
    val spark = graft.core.Graft.session("perfbench", cores = Cores)
    val sessionMs = (System.nanoTime() - s0) / 1e6
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) { tr.attach(spark.sparkContext); spark.sparkContext.addSparkListener(log) }

    val buildNs = (1 to Builds).map { b =>
      val t = System.nanoTime()
      workload.build(spark, work.resolve(s"build$b"), tr)
      System.nanoTime() - t
    }

    var failed = 0L
    var mismatches = 0L
    var round = 0
    // runs one round; returns per call (kind, wall ns, process cpu ns, rows)
    def runRound(): Seq[(String, Long, Long, Long)] = {
      val o0 = System.nanoTime()
      val calls = new Random(seed * 7919L + round).shuffle(workload.round(round))
      oracleNs += System.nanoTime() - o0
      round += 1
      calls.map { c =>
        val c0 = cpuBean.getProcessCpuTime
        val t0 = System.nanoTime()
        val check = try Some(tr.span(s"op.${c.kind}")(c.exec(tr))) catch {
          case e: Exception =>
            System.err.println(s"perfbench: ${c.kind} failed: $e"); None
        }
        val wall = System.nanoTime() - t0
        val cpu = cpuBean.getProcessCpuTime - c0
        val rows = check match {
          case None => failed += 1; 0L
          case Some(f) =>
            val o0 = System.nanoTime()
            val v = f()
            oracleNs += System.nanoTime() - o0
            v.mismatch.foreach { m =>
              mismatches += 1
              System.err.println(s"perfbench: ${c.kind} round ${round - 1}: $m")
            }
            v.rows
        }
        (c.kind, wall, cpu, rows)
      }
    }

    val warm = (1 to WarmupRounds).map(_ => runRound())
    val firstTimed = System.nanoTime()
    val setupS = ((firstTimed - entry) - oracleNs - buildNs.sum +
      Stats.median(buildNs.map(_.toDouble))) / 1e9
    val opsBefore = tr.spans.map(_.id).toSet

    val rounds = mutable.ArrayBuffer.empty[Seq[(String, Long, Long, Long)]]
    while (rounds.isEmpty || (System.nanoTime() - firstTimed) / 1e9 < seconds) rounds += runRound()

    val perRound = workload.opTypes.size
    val attempted = rounds.size.toLong * perRound
    val all = rounds.flatten.toSeq
    val latency = workload.opTypes.map(t => Stats.median(all.filter(_._1 == t).map(_._2 / 1e6)))
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        // Spark releases broadcast and shuffle blocks from its cleaner
        // thread only after a collection has found their owners
        // unreachable, so collect until that settles and keep the least
        val heap = (1 to 3).map { _ =>
          System.gc(); Thread.sleep(200)
          ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
        }.min
        Seq(
          ("setup_s", setupS, "s"),
          ("ops_per_s", perRound / Stats.median(rounds.map(_.map(_._2).sum / 1e9).toSeq), "1/s"),
          ("latency_p50_ms", Stats.geomean(latency), "ms"),
          ("cpu_ms_per_op", Stats.median(rounds.map(_.map(_._3).sum / 1e6 / perRound).toSeq), "ms"),
          ("live_heap_mb", heap, "MB"))
      } else {
        log.drain(10000)
        val opIds = tr.spans.filter(s => s.id == s.op && !opsBefore(s.id)).map(_.id).toSet
        val rows = all.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._4).toSeq }
        val layer = Layers.metrics(tr, log, opIds, toEpochMs, sessionMs,
          Workloads.AllOpTypes, rows)
        tr.write(traceOut, toEpochMs)
        val nesting = tr.nestingViolations
        if (nesting > 0) {
          mismatches += nesting
          System.err.println(s"perfbench: $nesting spans lie outside their op span")
        }
        Workloads.PerLayer.map { case (k, unit) => (k, layer(k), unit) }
      }
    spark.stop()

    for (t <- workload.opTypes)
      println(f"perfbench: $t%-24s n=${all.count(_._1 == t)}%4d p50=${Stats.median(all.filter(_._1 == t).map(_._2 / 1e6))}%9.2f ms")
    def walls(rs: Iterable[Seq[(String, Long, Long, Long)]]) = rs.map(r => f"${r.map(_._2).sum / 1e6}%.0f").mkString(" ")
    println(s"perfbench: warm-up round ms: ${walls(warm)}")
    println(s"perfbench: timed round ms: ${walls(rounds)}")
    println(s"perfbench: rounds=${rounds.size} builds_s=${buildNs.map(b => f"${b / 1e9}%.3f").mkString(",")} seed=$seed")
    val correct = selfTest.isEmpty && mismatches == 0
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}""")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
