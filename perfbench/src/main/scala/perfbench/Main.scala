package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** One closed-loop client in one JVM: each op is issued only after the
  * previous one completed, as one tenant's syncs run.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --spec <BENCHMARK.json> --work <dir> --out <dir>`. The
  * last stdout line is the JSON result. It reports the metrics the spec
  * lists, in its order: `end_to_end` with `--trace 0`, and `per_layer`
  * with `--trace 1`, from a run in which every other op is traced. */
object Main {

  /** Untimed ops before the timed loop, charged to `setup_s`. The first op
    * runs 2-3x slower than steady while classes load and the JIT compiles,
    * the second still up to 1.5x. A fixed count keeps set-up, and the state
    * the timed ops start from, the same in every run. */
  private val WarmOps = 2
  /** The timed loop runs past `--seconds` until it has this many ops, so
    * that one slow op (a compaction, a burst of host load) is not the
    * median, but ends [[LoopDeadlineS]] after process start in any case,
    * well inside the caller's time limit. Runs are short on purpose: a
    * comparison of two commits makes 22 runs per workload plus 4 within
    * 3420 s, builds included, and an `index_graph` op takes 8-17 s on 4
    * cores. */
  private val MinOps = 3
  private val LoopDeadlineS = 140

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      spec: Path, work: Path, out: Path)

  def parse(args: Array[String]): Either[String, Args] = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.get(k).toRight(s"missing --$k")
    for {
      w <- need("workload").filterOrElse(Workload.names.contains, s"unknown workload; one of ${Workload.names.mkString(", ")}")
      seed <- need("seed").flatMap(s => s.toLongOption.toRight("--seed must be an integer"))
      secs <- need("seconds").flatMap(s => s.toIntOption.filter(_ > 0).toRight("--seconds must be a positive integer"))
      trace <- need("trace").filterOrElse(Set("0", "1"), "--trace must be 0 or 1")
      spec <- need("spec")
      work <- need("work")
      out <- need("out")
    } yield Args(w, seed, secs, trace == "1", Path.of(spec), Path.of(work), Path.of(out))
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args) match {
      case Right(a) => a
      case Left(msg) => System.err.println(s"perfbench: $msg"); sys.exit(2)
    }
    val t0Ms = sys.env.get("PERFBENCH_T0_MS").flatMap(_.toDoubleOption)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    val cores = math.min(Runtime.getRuntime.availableProcessors(), 4)
    Files.createDirectories(a.work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    val code = try run(a, spark, cores, t0Ms) finally spark.stop()
    sys.exit(code)
  }

  /** (name, unit) of the metrics `spec` lists for this mode. */
  def specMetrics(spec: Path, trace: Boolean): Seq[(String, String)] =
    new ObjectMapper().readTree(spec.toFile).path(if (trace) "per_layer" else "end_to_end")
      .elements().asScala.map(m => (m.path("name").asText(), m.path("unit").asText())).toSeq

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** The process's resident-set high-water mark (Linux `VmHWM`). */
  private def peakRssMib: Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  private def run(a: Args, spark: SparkSession, cores: Int, t0Ms: Double): Int = {
    val wanted = specMetrics(a.spec, a.trace)
    val tracer = new Tracer(spark, cores)
    val wl = Workload(a.workload, spark, a.work, a.seed)
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1000
    wl.setup()
    val stagedS = (System.currentTimeMillis() - t0Ms) / 1000

    var i = 0
    var attempted = 0
    var failed = 0
    final case class Done(seconds: Double, rows: Long, layers: Map[String, Double])

    def runOp(traced: Boolean): Done = {
      wl.prepare(i)
      if (traced) tracer.begin(i)
      val gc0 = gcMs
      val start = System.nanoTime()
      val result = Try(tracer.span("op")(wl.op(i, tracer)))
      val seconds = (System.nanoTime() - start) / 1e9
      val gc = gcMs - gc0
      if (traced) tracer.end()
      val (errors, obs) = result match {
        case Success(_) => Try(wl.check(i)) match {
          case Success(r) => r
          case Failure(e) => (Seq(s"output check threw $e"), Map.empty[String, Double])
        }
        case Failure(e) => (Seq(s"op threw $e"), Map.empty[String, Double])
      }
      attempted += 1
      if (errors.nonEmpty) {
        failed += 1
        errors.foreach(e => System.err.println(s"perfbench: op $i failed: $e"))
      }
      val layers =
        if (!traced) Map.empty[String, Double]
        else tracer.spans.find(s => s.op == i && s.name == "op")
          .map(root => tracer.opMetrics(root, gc) ++ obs).getOrElse(Map.empty)
      i += 1
      Done(seconds, result.getOrElse(0L), layers)
    }

    val warm = Seq.fill(WarmOps)(runOp(traced = false).seconds)
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000

    // timed closed loop; in a traced run ops alternate untraced/traced in
    // pairs whose order flips each pair (U T, T U, ...), so state growth
    // over the run cancels out of the overhead estimate
    val done = ArrayBuffer[(Done, Boolean)]()
    val loopStart = System.nanoTime()
    def elapsedS = (System.nanoTime() - loopStart) / 1e9
    def sinceStartS = (System.currentTimeMillis() - t0Ms) / 1000
    while (done.isEmpty ||
        ((elapsedS < a.seconds || done.size < MinOps) && sinceStartS < LoopDeadlineS)) {
      val k = done.size
      val traced = a.trace && ((k % 2 == 0) == ((k / 2) % 2 == 1))
      done += ((runOp(traced), traced))
    }
    val loopS = elapsedS
    val lat = done.map(_._1.seconds).toSeq
    val rows = done.map(_._1.rows).sum

    val values: Map[String, Double] =
      if (!a.trace) {
        val (tail, pct) = Stats.tail(lat)
        println(f"op_s_tail is the p$pct%.1f of ${lat.size} timed ops" +
          (if (lat.size > Stats.TailBeyond) s" (at least ${Stats.TailBeyond} beyond it)"
           else s" (fewer than ${Stats.TailBeyond + 1} ops: the slowest)"))
        Map("setup_s" -> setupS, "op_s_p50" -> Stats.median(lat), "op_s_tail" -> tail,
          "rows_per_s" -> rows / lat.sum, "peak_rss_mib" -> peakRssMib)
      } else {
        val traced = done.filter(_._2).map(_._1.layers)
        val pairs = done.size / 2 * 2
        val overhead = done.take(pairs).map { case (d, t) => if (t) d.seconds else -d.seconds }.sum
        Files.createDirectories(a.out)
        Files.write(a.out.resolve(s"trace-${a.workload}-seed${a.seed}.jsonl"),
          tracer.spanLines.mkString("", "\n", "\n").getBytes(UTF_8))
        println(s"traced ${traced.size} of ${done.size} timed ops; spans in ${a.out}")
        // a layer this workload bypasses reads 0
        (traced.flatMap(_.keys) ++ Workload.observed).distinct.map { n =>
          n -> traced.map(_.getOrElse(n, 0.0)).sum / traced.size
        }.toMap + ("trace.overhead_s" -> overhead)
      }
    val missing = wanted.map(_._1).filterNot(values.contains)
    require(missing.isEmpty, s"the benchmark does not compute ${missing.mkString(", ")}")
    val metrics = wanted.map { case (n, u) => (n, values(n), u) }

    println(s"workload ${a.workload} seed ${a.seed}: warm-up ${warm.size} ops, timed ${done.size} ops, " +
      s"failed $failed of $attempted")
    println(f"set-up: session at $sessionS%.2f s, inputs staged at $stagedS%.2f s, warm-up done at $setupS%.2f s")
    println(f"timed loop: $loopS%.2f s wall, ${lat.sum}%.2f s in ops")
    println(f"op seconds, warm-up: ${warm.map(x => f"$x%.3f").mkString(" ")}; timed: ${lat.map(x => f"$x%.3f").mkString(" ")}")
    metrics.foreach { case (n, v, u) => println(s"$n $v $u") }
    val correct = failed == 0
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    if (correct) 0 else 1
  }
}
