package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.immutable.{ListMap, SortedMap}
import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{HarnessLock, Session, SparkEntry, Tables}

/** JVM side of the benchmark. `perfbench/run.py` builds this together with
  * the engine, generates inputs, launches one process per run and turns the
  * raw record this writes (`--out`) into metrics.
  *
  * Modes:
  *  - `run`: one measured run of a workload (closed loop, one client);
  *  - `dump`: write every llm_session query to parquet plus its oracle SQL
  *    (for `tools/compare.py`) and its digests (the golden file);
  *  - `selftest`: the digest's order-independence check. */
object Main {
  final case class Args(mode: String, workload: String, seed: Long,
                        seconds: Double, trace: Boolean, cores: Int,
                        corpus: String, work: String, etlIn: String,
                        golden: String, out: String, t0Ms: Long)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: String = null): String =
      m.getOrElse(k, Option(d).getOrElse(
        throw new IllegalArgumentException(s"missing --$k")))
    Args(get("mode", "run"), get("workload", ""), get("seed", "0").toLong,
      get("seconds", "10").toDouble, get("trace", "0") == "1",
      get("cores").toInt, get("corpus"), get("work"), get("etl-in", ""),
      get("golden", ""), get("out"), get("t0-ms", "0").toLong)
  }

  /** Set-ups measured per run: the first pays JVM start and class loading,
    * the rest build a fresh session in the warm JVM. `setup_s` is their
    * median, so it is the warm figure; the cold start is
    * `process.cold_setup_s` of the traced run. */
  val SetupCycles = 5

  /** `--seconds` buys one untraced pass per this many seconds, at least
    * two. */
  val SecondsPerPass = 5.0

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // Spark's shutdown hooks and the harness lock both expect one run per
    // JVM; the lock also keeps Verify, Bench and the test suites out.
    HarnessLock.acquireOrDie("perfbench")
    val code = a.mode match {
      case "run"      => run(a)
      case "dump"     => dump(a)
      case "selftest" => SelfTest.run(a)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    sys.exit(code)
  }

  /** A fresh session at `local[cores]`, ready once one trivial scan of the
    * corpus has finished. */
  private def setUp(a: Args): SparkSession = {
    val spark = Session.local(a.cores)
    Digest.of(Tables(spark, a.corpus, "region"))
    spark
  }

  private def run(a: Args): Int = {
    val rec = new Recorder
    var spark = setUp(a)
    val setups = mutable.ArrayBuffer((System.currentTimeMillis() - a.t0Ms) / 1e3)
    val wl: Workload = a.workload match {
      case "llm_session"  => new QueryWorkload(Workloads.llm)
      case "etl_load"     => new EtlWorkload
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val golden = Golden.read(a.golden)
    // The scheduler listener is attached only while something is traced:
    // the once-per-process preparation and the traced pass. The untraced
    // passes around the traced one pay nothing for it, so their ratio is
    // the whole cost of tracing.
    val listener = new JobListener
    def traced[A](on: Boolean)(body: => A): A =
      if (!on) body
      else {
        val sc = spark.sparkContext
        sc.addSparkListener(listener)
        rec.passTraced = true
        try body finally {
          rec.passTraced = false
          org.apache.spark.ListenerDrain(sc)
          sc.removeSparkListener(listener)
        }
      }
    val root = rec.now()
    traced(a.trace)(wl.prepare(spark, a, rec, golden))
    val ready = (System.currentTimeMillis() - a.t0Ms) / 1e3
    // An untraced run times every pass: pass 1 pays code generation and JIT
    // for the passes' plans, as the first round of a user's session does,
    // and the figures are medians over the passes. `--seconds` buys a fixed
    // number of passes, so every run times the same pass positions. A traced
    // run adds an untimed warm-up pass, then times untraced-traced-untraced
    // passes, so the traced pass sits between two warm untraced ones and
    // their ratio is the tracing overhead.
    val passCount =
      if (a.trace) 4 else math.max(2, math.round(a.seconds / SecondsPerPass).toInt)
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Boolean, Double, Double)]
    for (i <- 1 to passCount) {
      val on = a.trace && i == 3
      traced(on) {
        rec.span(0, 0, "pass", s"pass$i") { id =>
          wl.pass(spark, a, rec, golden, i, id)
        }
      }
      val timed = wl.timedOps(rec, i)
      passes += ((i, on, a.trace && i == 1, timed.map(_.ms).sum / 1e3,
        timed.map(_.cpuMs).sum / 1e3))
    }
    val retained = Proc.retainedHeapMb()
    val kernels = if (a.trace) Kernels.probe(spark, a.corpus) else Nil
    // The root span: every pass and the once-per-process preparation.
    if (a.trace) rec.spans += rec.Span(0, 0, -1, "workload", a.workload, root,
      rec.now())
    val rss = Proc.peakRssMb()
    // The further set-ups run in the warm JVM, each from a settled state:
    // the previous session stopped and its garbage collected.
    for (_ <- 2 to SetupCycles) {
      spark.stop()
      System.gc()
      val t0 = System.nanoTime()
      spark = setUp(a)
      setups += (System.nanoTime() - t0) / 1e9
    }
    spark.stop()

    JsonIO.write(a.out, ListMap(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "trace" -> a.trace, "setup_s" -> setups.toSeq, "ready_s" -> ready,
      "rss_peak_mb" -> rss, "heap_retained_mb" -> retained,
      "passes" -> passes.toSeq.map { case (n, t, w, s, cpu) =>
        ListMap("index" -> n, "traced" -> t, "warmup" -> w, "s" -> s,
          "cpu_s" -> cpu) },
      "ops" -> rec.ops.toSeq.map { o =>
        ListMap("id" -> o.id, "pass" -> o.pass, "kind" -> o.kind,
          "name" -> o.name, "ms" -> o.ms, "cpu_ms" -> o.cpuMs, "ok" -> o.ok,
          "error" -> o.error) },
      "spans" -> rec.spans.toSeq.map { s =>
        ListMap("id" -> s.id, "op" -> s.op, "parent" -> s.parent,
          "kind" -> s.kind, "name" -> s.name, "start" -> s.start,
          "end" -> s.end) },
      "jobs" -> listener.jobs.values.toSeq.map { b =>
        ListMap("id" -> b.id, "op" -> b.op, "start" -> b.start,
          "end" -> b.end, "stage_ids" -> b.stageIds) },
      "stages" -> listener.stages.toSeq.map { s =>
        ListMap("id" -> s.id, "attempt" -> s.attempt, "start" -> s.start,
          "end" -> s.end, "tasks" -> s.tasks, "run_ms" -> s.runMs,
          "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "input_b" -> s.inputB,
          "shuffle_read_b" -> s.shuffleReadB,
          "shuffle_write_b" -> s.shuffleWriteB, "spill_b" -> s.spillB,
          "output_b" -> s.outputB, "task_max_ms" -> s.taskMaxMs,
          "task_med_ms" -> s.taskMedMs) },
      "kernels" -> kernels.map { case (k, ns) =>
        ListMap("name" -> k, "ns_per_row" -> ns) }) ++ wl.extra)
    0
  }

  /** Writes each llm_session query to `<out>/<name>` as parquet, the
    * matching oracle SQL to `<out>/oracle_sql.json` (the layout
    * `tools/compare.py` reads) and the digests to `--golden`. */
  private def dump(a: Args): Int = {
    val spark = setUp(a)
    val names = Workloads.llm
    SparkEntry.warmSessionArtifacts(spark, a.corpus)
    val digests = names.map { n =>
      val df = SparkEntry.queries(n)(spark, a.corpus)
      df.coalesce(1).write.mode("overwrite").parquet(s"${a.out}/$n")
      val d = Digest.of(df)
      spark.catalog.clearCache()
      n -> d
    }
    JsonIO.write(s"${a.out}/oracle_sql.json",
      SparkEntry.oracleSql.filter(kv => names.contains(kv._1)))
    Golden.merge(a.golden, digests)
    spark.stop()
    0
  }
}

/** One workload: once-per-process preparation, then passes. */
trait Workload {
  def prepare(spark: SparkSession, a: Main.Args, rec: Recorder,
              golden: Map[String, String]): Unit
  def pass(spark: SparkSession, a: Main.Args, rec: Recorder,
           golden: Map[String, String], index: Int, span: Int): Unit
  /** The operations of pass `index` that its time is the sum of, so the
    * correctness checks that follow some operations stay untimed. */
  def timedOps(rec: Recorder, index: Int): Seq[Recorder#Op] =
    rec.ops.filter(_.pass == index).toSeq
  /** Workload-specific fields of the run record. */
  def extra: Map[String, Any] = Map.empty
}

object Workloads {
  private def resolve(prefixes: Seq[String]): Seq[String] = {
    val keys = SparkEntry.queries.keys.toSeq
    prefixes.map { p =>
      keys.filter(_.startsWith(p + "_")) match {
        case Seq(k) => k
        case ks => throw new IllegalStateException(
          s"query prefix $p matches ${ks.size} queries")
      }
    }
  }

  /** Consumers of every warm artifact, every per-pass sweep and the
    * `graft.functions` kernels. Each artifact is reached by at least one
    * query (directly or through the artifact built from it), so a change to
    * any build shows in a checked digest. */
  lazy val llm: Seq[String] = resolve(Seq(
    "q109",  // graph: PageRank on the symmetric adjacency artifact
    "q166",  // graph: clustering census on the oriented layout
    "q61",   // near-duplicates: pair and component sweeps
    "q177",  // ANN: IVF centroids and IVF-PQ codebooks
    "q171",  // ANN: PQ codebooks
    "q41",   // document terms
    "q121",  // BPE rules
    "q187",  // recommendations: item kNN sweep
    "q198",  // recommendations: holdout, base kNN, customer-part orders
    "q262",  // kNN votes sweep
    "q39"))  // kernel-heavy: shingle sets and sorted intersections
}

/** A query session over the session artifacts: the warm artifact tier is
  * built once, the round sweeps are rebuilt at the start of every pass, and
  * each query is constructed, planned and run to its digest in the caller's
  * thread, in a seeded order per pass. */
final class QueryWorkload(names: Seq[String]) extends Workload {

  def prepare(spark: SparkSession, a: Main.Args, rec: Recorder,
              golden: Map[String, String]): Unit =
    SparkEntry.warmArtifactBuilders(a.corpus).foreach {
      case (name, build) =>
        rec.op(spark, 0, 0, "warm", name) { id =>
          rec.phase(id, "action")(build(spark)); true }
    }

  def pass(spark: SparkSession, a: Main.Args, rec: Recorder,
           golden: Map[String, String], index: Int, span: Int): Unit = {
    spark.catalog.clearCache()
    SparkEntry.clearSessionSweeps()
    SparkEntry.roundSweepBuilders(a.corpus).foreach { case (name, build) =>
      rec.op(spark, index, span, "sweep", name) { id =>
        rec.phase(id, "action")(build(spark)); true }
    }
    new Random(a.seed * 1000003L + index).shuffle(names).foreach { n =>
      rec.op(spark, index, span, "query", n) { id =>
        val df = rec.phase(id, "construct")(SparkEntry.queries(n)(spark, a.corpus))
        val d = Digest.frame(df)
        rec.phase(id, "plan")(d.queryExecution.executedPlan)
        val got = Digest.render(rec.phase(id, "action")(d.collect()(0)))
        golden.get(n) match {
          case Some(want) if want == got => true
          case want =>
            System.err.println(
              s"[perfbench] $n digest $got, golden ${want.getOrElse("missing")}")
            false
        }
      }
    }
  }
}

object Golden {
  def read(path: String): Map[String, String] =
    if (path.isEmpty || !Files.exists(Paths.get(path))) Map.empty
    else JsonIO.read(path).map { case (k, v) => k -> v.toString }

  def merge(path: String, add: Seq[(String, String)]): Unit =
    JsonIO.write(path, SortedMap((read(path) ++ add).toSeq: _*))
}

/** Reads and writes the benchmark's JSON files with the Jackson that ships
  * in Spark's jars. */
object JsonIO {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def read(path: String): Map[String, Any] =
    mapper.readValue(new File(path), classOf[Map[String, Any]])

  def write(path: String, value: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), value)
}

object Proc {
  /** Heap the session still holds after a full collection, in MB: cached
    * blocks, memos and artifacts, i.e. what the passes left behind. */
  def retainedHeapMb(): Double = {
    // Spark's ContextCleaner releases broadcasts and shuffles whose handles
    // a collection found unreachable, so collect until that settles.
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)
}
