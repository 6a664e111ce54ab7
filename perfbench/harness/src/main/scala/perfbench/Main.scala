package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark harness. `perfbench/run.py` builds it and starts one
  * process per run:
  *
  *   perfbench.Main run --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --keys FILE --out FILE [--spans FILE]
  *   perfbench.Main survey --data DIR --out FILE
  *   perfbench.Main selftest
  *
  * `run` sets up (session, fixtures, warm calls), times ops in a closed
  * loop with one client thread for at least S seconds, and writes every
  * op's record to `--out`. With `--trace 1` half of the ops are traced:
  * its Spark jobs, stages, tasks and query executions are collected and
  * its wall time is split into executor, Catalyst and driver self time.
  * The untraced ops of the same run are the baseline for the tracing
  * overhead. `survey` runs every declared key cold and warm once, for
  * choosing workload keys and recording reference digests. */
object Main {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  private def session(tmp: File, countFsOps: Boolean = false): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(tmp, "spark-local").getAbsolutePath)
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
    val s = (if (countFsOps) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName) else b)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def errText(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).linesIterator.take(1).mkString.take(300)}"
  }

  /** Runs `op`, catching a throw as a failed outcome. */
  private def attempt(op: Op): Outcome =
    try op.run()
    catch { case t: Throwable => Outcome(ok = false, -1L, "", errText(t)) }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run")      => run(args)
    case Some("survey")   => survey(args)
    case Some("selftest") => selftest()
    case _ =>
      System.err.println("usage: perfbench.Main run|survey|selftest ...")
      sys.exit(2)
  }

  private def run(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").get
    val seed = arg(args, "--seed").get.toLong
    val seconds = arg(args, "--seconds").get.toDouble
    val trace = arg(args, "--trace").contains("1")
    val data = new File(arg(args, "--data").get).getAbsolutePath
    val out = new File(arg(args, "--out").get)
    val tmp = new File(sys.props("java.io.tmpdir"))
    val stageRoot = new File(graft.Stage.root)

    val t0 = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val spark = session(tmp, countFsOps = trace)
    val sessionS = since(t0)

    val wl: Workload = workload match {
      case "commit_log" => new CommitLogWorkload(spark, data, tmp, seed)
      case "inventory" =>
        // one `<class> <key>` per line
        val src = scala.io.Source.fromFile(arg(args, "--keys").get)
        val keys = try src.getLines().map(_.trim).filter(_.nonEmpty).map { l =>
          val Array(cls, key) = l.split("\\s+"); (key, cls)
        }.toSeq finally src.close()
        new Inventory(spark, data, keys, seed)
      case other => sys.error(s"unknown workload $other")
    }
    val tf = System.nanoTime()
    wl.fixture()
    val fixtureS = since(tf)

    // warm calls, in the run's empty tmpdir, so staged tables are built
    // and code paths compiled before the clock starts
    val warm = mutable.ArrayBuffer[Map[String, Any]]()
    var stageBuildS = 0.0
    val tw = System.nanoTime()
    wl.warmOps.foreach { op =>
      val before = Probe.children(stageRoot)
      val ts = System.nanoTime()
      val o = attempt(op)
      val sec = since(ts)
      val built = (Probe.children(stageRoot) -- before).size
      if (built > 0) stageBuildS += sec
      warm += Map("name" -> op.name, "wall_s" -> sec, "ok" -> o.ok, "err" -> o.err,
        "rows" -> o.rows, "hash" -> o.hash, "stage_built" -> built)
    }
    val warmS = since(tw)
    val stageDirs = Probe.children(stageRoot)
    // the retained heap takes full collections: traced runs only, so
    // they stay out of the untraced runs' set-up time
    val setup = Map(
      "session_s" -> sessionS, "fixture_s" -> fixtureS, "warm_s" -> warmS,
      "stage_builds" -> stageDirs.size, "stage_build_s" -> stageBuildS,
      "stage_bytes" -> Probe.dirBytes(stageRoot)) ++
      (if (trace) Map("retained_heap_mb" -> Probe.retainedHeapMb()) else Map.empty)

    val tracer = if (trace) Some(new Tracer(spark)) else None
    // which ops are traced: a seeded coin, not the op's position, so no
    // op kind is always or never traced
    val coin = new scala.util.Random(seed + 1)
    val spans = arg(args, "--spans").filter(_ => trace).map(p => new PrintWriter(p))
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val gc0 = Probe.gcSeconds()
    Probe.resetHeapPeak()
    val firstOpEpochMs = System.currentTimeMillis()
    val tr = System.nanoTime()
    var i = 0
    var done = false
    while (!done) {
      wl.next(i, since(tr) >= seconds) match {
        case None => done = true
        case Some(op) =>
          val traceThis = tracer.isDefined && coin.nextBoolean()
          val before = Probe.children(stageRoot)
          val fs0 = if (traceThis) Probe.fs() else null
          // the op's clock: inside the tracer's fences, around the call only
          def timed(): (Outcome, Long, Long, Long) = {
            val ms = System.currentTimeMillis()
            val t = System.nanoTime()
            val o = attempt(op)
            (o, ms, t, System.nanoTime() - t)
          }
          val ((outcome, startMs, ts, wallNs), opTrace) =
            if (traceThis) {
              val (r, t) = tracer.get.traced(s"$i")(timed())
              (r, Some(t))
            } else (timed(), None)
          val wall = wallNs / 1e9
          val endMs = startMs + math.round(wallNs / 1e6)
          val rec = mutable.LinkedHashMap[String, Any](
            "i" -> i, "name" -> op.name, "cls" -> op.cls, "start_ms" -> startMs,
            "at_s" -> (ts - tr) / 1e9, "wall_s" -> wall, "ok" -> outcome.ok, "err" -> outcome.err,
            "rows" -> outcome.rows, "hash" -> outcome.hash, "traced" -> traceThis,
            "stage_built" -> (Probe.children(stageRoot) -- before).size)
          opTrace.foreach { t =>
            rec ++= Attribution.of(t, Span(startMs, endMs), wall)
            val d = Probe.fs() - fs0
            rec ++= Map("fs_read_ops" -> d.readOps, "fs_write_ops" -> d.writeOps,
              "fs_list_ops" -> d.listOps, "fs_bytes_read" -> d.bytesRead,
              "fs_bytes_written" -> d.bytesWritten)
            rec ++= wl.traceExtra(op)
            spans.foreach(_.println(json.writeValueAsString(
              Attribution.spans(i, op.name, Span(startMs, endMs), wall, t))))
          }
          ops += rec.toMap
          i += 1
      }
    }
    val timedS = since(tr)
    val jvm = Map("gc_s" -> (Probe.gcSeconds() - gc0), "heap_peak_mb" -> Probe.heapPeakMb())
    tracer.foreach(_.close())
    spans.foreach(_.close())
    val extra = wl.finish()
    val (cpuSt, cpuPar) = Probe.cpuAnchor(Runtime.getRuntime.availableProcessors())
    val io = Probe.ioAnchor(new File(tmp, "graft_io"))
    val state = Map(
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "jvm_start_ms" -> Probe.jvmStartMs(),
      "first_op_epoch_ms" -> firstOpEpochMs,
      "anchor_cpu_st_s" -> cpuSt, "anchor_cpu_par_s" -> cpuPar,
      "anchor_cpu_iters" -> Probe.CpuIters, "anchor_io_s" -> io, "anchor_io_mib" -> Probe.IoMiB,
      "peak_rss_mb" -> Probe.peakRssMb())
    val w = new PrintWriter(out)
    try w.println(json.writeValueAsString(Map(
      "state" -> state, "setup" -> setup, "warm" -> warm, "ops" -> ops, "timed_s" -> timedS,
      "jvm" -> jvm, "workload" -> extra)))
    finally w.close()
    spark.stop()
  }

  /** Every declared key, cold then warm, with its digest, wall times,
    * the bytes it wrote when warm and the staged tables it built. */
  private def survey(args: Array[String]): Unit = {
    val data = new File(arg(args, "--data").get).getAbsolutePath
    val out = new PrintWriter(new File(arg(args, "--out").get))
    val only = arg(args, "--keys").map(_.split(",").toSet)
    val tmp = new File(sys.props("java.io.tmpdir"))
    val stageRoot = new File(graft.Stage.root)
    val spark = session(tmp)
    val fns = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql.keySet
    fns.keys.toSeq.sorted.filter(k => only.forall(_(k))).foreach { k =>
      val op = Op(k, "?", () => { val d = Digest.of(fns(k)(spark, data)); Outcome(ok = true, d.rows, d.hash) })
      def call() = {
        val before = Probe.children(stageRoot)
        val fs0 = Probe.fs()
        val t = System.nanoTime()
        val o = attempt(op)
        val sec = (System.nanoTime() - t) / 1e9
        val d = Probe.fs() - fs0
        Map("wall_s" -> sec, "ok" -> o.ok, "err" -> o.err, "rows" -> o.rows, "hash" -> o.hash,
          "bytes_written" -> d.bytesWritten, "write_ops" -> d.writeOps,
          "stage_built" -> (Probe.children(stageRoot) -- before).size)
      }
      val cold = call()
      val warm = call()
      val again = call()
      out.println(json.writeValueAsString(Map(
        "key" -> k, "oracle" -> oracle(k), "cold" -> cold, "warm" -> warm, "again" -> again)))
      out.flush()
    }
    out.close()
    spark.stop()
  }

  /** The digest's own properties: it ignores row order and column
    * order, it is stable under float summation order, and it sees a
    * changed value and a duplicated row. Exits non-zero on a failure. */
  private def selftest(): Unit = {
    val tmp = new File(sys.props("java.io.tmpdir"))
    val spark = session(tmp)
    import spark.implicits._
    val a = Seq((1L, 0.1 + 0.2 + 0.3, "x"), (2L, 1e-3, "y"), (3L, -0.0, null)).toDF("id", "d", "s")
    val reordered = Seq((3L, 0.0, null), (1L, 0.3 + 0.2 + 0.1, "x"), (2L, 1e-3, "y"))
      .toDF("id", "d", "s").select("s", "d", "id")
    val changed = Seq((1L, 0.6001, "x"), (2L, 1e-3, "y"), (3L, 0.0, null)).toDF("id", "d", "s")
    val duplicated = a.union(a.limit(1))
    val nested = Seq((1L, Seq(0.1f + 0.2f, 0.5f), Map("k" -> (0.1 + 0.2))))
      .toDF("id", "arr", "m")
    val nested2 = Seq((1L, Seq(0.2f + 0.1f, 0.5f), Map("k" -> (0.2 + 0.1))))
      .toDF("id", "arr", "m")
    val checks = Seq(
      "sum order differs in the last bit" -> ((0.1 + 0.2 + 0.3) != (0.3 + 0.2 + 0.1)),
      "row and column order are ignored" -> (Digest.of(a) == Digest.of(reordered)),
      "a changed value changes the digest" -> (Digest.of(a) != Digest.of(changed)),
      "a duplicated row changes the digest" -> (Digest.of(a) != Digest.of(duplicated)),
      "row count is the digest's count" -> (Digest.of(duplicated).rows == 4L),
      "nested floats are canonicalized" -> (Digest.of(nested) == Digest.of(nested2)))
    checks.foreach { case (what, ok) => println(s"${if (ok) "PASS" else "FAIL"} digest: $what") }
    spark.stop()
    if (!checks.forall(_._2)) sys.exit(1)
  }
}
