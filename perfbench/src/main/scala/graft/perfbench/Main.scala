package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. Each set-up round calls `setup` on a
  * fresh session to generate and register the inputs;
  * `check` then runs the untimed verification of every output (also the
  * warm-up); `pass` is one timed pass. */
trait Workload {
  def setup(b: Bench): Unit
  def check(b: Bench): Unit
  def pass(b: Bench): Unit
  /** An untimed run of the timed passes' code path, so that what follows
    * runs warm. */
  def warm(b: Bench): Unit = pass(b)
  /** Verification of what the timed passes since the last `reset` wrote,
    * run after them. */
  def verify(b: Bench): Unit = ()
  /** Whether the timed passes since the last `reset` hold enough samples
    * for the workload's metrics. */
  def enough: Boolean
  /** Raw samples of the timed passes since the last `reset`. */
  def samples: Map[String, Any]
  def reset(b: Bench): Unit
}

/** Run state shared by the workloads: the session, the optional tracer,
  * and the operation counters. */
final class Bench(val workload: String, val seed: Long, val cores: Int, val work: String,
    val traced: Boolean) {
  var spark: SparkSession = _
  var tracer: Option[Tracer] = None
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Set while a timed pass runs; checks of untimed passes count nothing. */
  var timed = false

  def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))

  /** One operation of a timed pass: counted, and failed if it throws. */
  def op[T](what: String)(body: => T): Option[T] = {
    if (timed) attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  def fail(msg: String): Unit = {
    if (timed) failed += 1
    if (failures.size < 50) failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      // as graft.Verify configures the gate session: dimensions broadcast,
      // facts shuffle-join, and the full SQL surface (MATCH_RECOGNIZE, TVFs)
      .config("spark.sql.autoBroadcastJoinThreshold", (4 * 1024 * 1024).toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }
}

object Main {
  /** Set-up rounds per run; `setup_s` is their median. The first pays JVM
    * and Spark start-up and the next ones still get faster, so the median
    * of five is the third-fastest round, past most of that warm-up. */
  private val SetupRounds = 5

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)

  def now(): Long = System.nanoTime()
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val cores = opt("cores").toInt
    val out = opt("out")

    val w: Workload = name match {
      case "stream_nexmark" => new StreamNexmark
      case "corpus_pipeline" => new CorpusPipeline
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val b = new Bench(name, seed, cores, work, traced)

    // set-up, several times: fresh session, inputs generated and registered
    val setupS = (1 to SetupRounds).map { _ =>
      val t0 = now()
      b.stopSession()
      b.startSession()
      w.setup(b)
      secondsSince(t0)
    }

    val tc = now()
    w.check(b)
    val checkS = secondsSince(tc)
    // a traced run compares untraced with traced passes, so both must run
    // warm: an untimed warm-up first, as the check does not run every timed
    // call's code path
    if (traced) w.warm(b)

    // timed passes: a closed loop, one caller, each call after the last
    // returned, until the budget is spent and the samples suffice. A traced
    // run times untraced passes for half the budget, then repeats as many
    // passes traced.
    b.timed = true
    val budget = if (traced) seconds / 2 else seconds
    val passS = mutable.ArrayBuffer.empty[Double]
    w.reset(b)
    val t0 = now()
    // (a traced run reports no end-to-end metric, so needs no minimum)
    while (passS.isEmpty || secondsSince(t0) < budget || (!traced && !w.enough)) {
      val tp = now()
      w.pass(b)
      passS += secondsSince(tp)
    }
    w.verify(b)
    val untracedSamples = w.samples
    val tracedPassS = mutable.ArrayBuffer.empty[Double]
    var trace: Map[String, Any] = null
    if (traced) {
      val tracer = new Tracer(s"$name-$seed-${ProcessHandle.current().pid()}")
      tracer.attach(b.spark)
      b.tracer = Some(tracer)
      w.reset(b)
      passS.indices.foreach { _ =>
        val tp = now()
        tracer.span("pass")(w.pass(b))
        tracedPassS += secondsSince(tp)
      }
      b.tracer = None
      trace = tracer.dump()
      tracer.detach(b.spark)
      w.verify(b)
    }
    b.timed = false

    val spark = b.spark
    val result = Map[String, Any](
      "workload" -> name, "seed" -> seed, "cores" -> cores,
      "spark_version" -> spark.version,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "setup_s" -> setupS, "check_s" -> checkS,
      "pass_s" -> passS.toSeq, "traced_pass_s" -> tracedPassS.toSeq,
      "samples" -> untracedSamples,
      "traced_samples" -> (if (traced) w.samples else null),
      "trace" -> trace,
      "attempted" -> b.attempted, "failed" -> b.failed, "failures" -> b.failures.toSeq)
    b.stopSession()
    Files.write(Paths.get(out), Main.json(result).getBytes(StandardCharsets.UTF_8))
  }
}
