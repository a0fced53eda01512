package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** One workload run: set up, run an untimed warm pass that also dumps every
  * query's output for the oracle check (the launcher checks each dump as it
  * is written), run the workload's further warm passes, wait until the check
  * has finished, then time passes for a fixed number of seconds.
  *
  * The engine is driven only through the registries
  * (`SparkEntry.queries`, `SparkEntry.oracleSql`, `SparkEntry.dumpSort`) and
  * `graft.Tables`. One client runs a closed loop: each query starts after
  * the previous one finished, with the session cache cleared before it. A
  * query's time is its build (the registry call) plus a `noop` write, which
  * materializes every output column.
  *
  * Usage (normally launched by perfbench/run.py):
  * {{{
  * graftbench.Harness --workload W --dir INPUT --queries a,b,c
  *   --permute 0|1 --seed N --seconds S --trace 0|1
  *   --warm-passes N --min-passes N --out DIR [--conf key=value]...
  * }}}
  */
object Harness {
  final case class Args(
      workload: String, dir: String, queries: Seq[String], permute: Boolean,
      seed: Long, seconds: Double, trace: Boolean,
      warmPasses: Int, minPasses: Int, out: Path, conf: Seq[(String, String)])

  def parse(argv: Array[String]): Args = {
    val kv = mutable.LinkedHashMap.empty[String, String]
    val conf = mutable.ArrayBuffer.empty[(String, String)]
    argv.grouped(2).foreach {
      case Array("--conf", v) =>
        val i = v.indexOf('=')
        require(i > 0, s"--conf wants key=value, got '$v'")
        conf += v.take(i) -> v.drop(i + 1)
      case Array(k, v) if k.startsWith("--") => kv(k.drop(2)) = v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("dir"), get("queries").split(",").toSeq.filter(_.nonEmpty),
      get("permute") == "1", get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("warm-passes").toInt, get("min-passes").toInt,
      Paths.get(get("out")), conf.toSeq)
  }

  /** Epoch milliseconds with nanosecond resolution, on the same clock the
    * listener events use. */
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final case class QueryRun(name: String, qid: String, startMs: Double,
                            buildMs: Double, endMs: Double, ok: Boolean,
                            error: String, cacheBytes: Long) {
    def json(kind: String): String = Json.obj("kind" -> kind, "name" -> name, "qid" -> qid,
      "start_ms" -> startMs, "build_end_ms" -> buildMs, "end_ms" -> endMs,
      "ok" -> ok, "error" -> error, "cache_bytes" -> cacheBytes)
  }

  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch { case e: Throwable =>
      // exit at once: Spark's own threads would otherwise keep the JVM alive
      e.printStackTrace()
      sys.exit(1)
    }

  def run(a: Args): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val dumpDir = a.out.resolve("dump")
    Files.createDirectories(dumpDir)
    val spark = a.conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val unknown = a.queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not registered in SparkEntry.queries: ${unknown.mkString(",")}")

    // Read the input files once so no query pays the page-cache miss.
    Tables.names.foreach { n =>
      val p = Paths.get(s"${a.dir}/$n.parquet")
      if (Files.exists(p)) Files.walk(p).filter(Files.isRegularFile(_)).forEach(f => Files.readAllBytes(f))
    }
    // tables layer: fixture resolution, timed per table.
    val resolve = Tables.names.map { n =>
      val t0 = nowMs
      if (n == "events") Tables.events(spark, a.dir) else Tables.load(spark, a.dir, n)
      n -> (nowMs - t0) / 1000.0
    }

    val recorder = new Recorder
    var writesExpected = 0
    val dumpFailed = mutable.LinkedHashMap.empty[String, String]

    /** One query: the registry call, then the write. The timed write is a
      * `noop` sink; the warm pass writes the dump the oracle check reads. */
    def runQuery(name: String, qid: String, traced: Boolean, dump: Boolean): QueryRun = {
      spark.catalog.clearCache()
      sc.setLocalProperty(Recorder.QueryKey, qid)
      recorder.currentQuery = qid
      val t0 = nowMs
      var tBuild = -1.0
      var error = ""
      try {
        val df = SparkEntry.queries(name)(spark, a.dir)
        tBuild = nowMs
        if (dump) writeDump(name, df, dumpDir.resolve(name).toString)
        else df.write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        error = String.valueOf(e).take(500)
        if (dump) dumpFailed(name) = error
      }
      val t1 = nowMs
      sc.setLocalProperty(Recorder.QueryKey, null)
      var cacheBytes = 0L
      if (traced) {
        // Outside the query's time: let the listener bus deliver this query's
        // events before the next query starts, and read the cached bytes.
        if (tBuild >= 0) writesExpected += 1
        if (!recorder.awaitWrites(writesExpected, if (error.isEmpty) 60000L else 2000L))
          writesExpected = recorder.writeCount
        cacheBytes = sc.getRDDStorageInfo.map(_.memSize).sum
      }
      val run = QueryRun(name, qid, t0, tBuild, t1, error.isEmpty, error, cacheBytes)
      if (traced) recorder.query(run.json("query"))
      run
    }

    def order(pass: Int): Seq[String] =
      if (a.permute) new scala.util.Random(a.seed * 1000003L + pass).shuffle(a.queries)
      else a.queries

    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val memBean = ManagementFactory.getMemoryMXBean

    def runPass(pass: Int, traced: Boolean, dump: Boolean): (Double, String) = {
      if (traced) {
        sc.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
      }
      val cpu0 = osBean.getProcessCpuTime
      val jit0 = jitCpuNs()
      val t0 = nowMs
      val runs = order(pass).map(n => runQuery(n, s"${a.workload}/$pass/$n", traced, dump))
      val wall = (nowMs - t0) / 1000.0
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      val jit = jitCpuNs().map { case (tid, ns) => ns - jit0.getOrElse(tid, 0L) }.sum / 1e9
      if (traced) {
        sc.removeSparkListener(recorder)
        spark.listenerManager.unregister(recorder)
      }
      // Outside timing: live heap after an explicit full collection. The
      // second collection frees what Spark's cleaner released after the first.
      System.gc()
      Thread.sleep(200)
      System.gc()
      val heapMb = memBean.getHeapMemoryUsage.getUsed / 1e6
      runs.filterNot(_.ok).foreach(r => System.err.println(s"[perfbench] ${r.qid} failed: ${r.error}"))
      wall -> Json.obj("pass" -> pass, "traced" -> traced, "wall_s" -> wall,
        "process_cpu_s" -> cpu, "jit_cpu_s" -> jit,
        "heap_mb" -> heapMb, "queries" -> Json.Raw(runs.map(_.json("run")).mkString("[", ",", "]")))
    }

    // Untimed warm pass, which also writes the outputs for the oracle check:
    // JIT and codegen caches fill as they would in a long-lived session. The
    // launcher checks each output, at the lowest CPU priority, as soon as its
    // write has committed.
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => a.queries.contains(k) }
    Files.writeString(dumpDir.resolve("dump_sort.json"), Json.value(
      SparkEntry.dumpSort.filter { case (k, _) => a.queries.contains(k) }))
    // The launcher reads this file as soon as it exists: move it in whole.
    val oracleTmp = dumpDir.resolve("oracle_sql.json.tmp")
    Files.writeString(oracleTmp, Json.value(oracle))
    Files.move(oracleTmp, dumpDir.resolve("oracle_sql.json"), StandardCopyOption.ATOMIC_MOVE)
    val (_, warm) = runPass(0, traced = false, dump = true)
    Files.writeString(dumpDir.resolve("_failed.json"), Json.value(dumpFailed.toMap))
    val setupS = (nowMs - jvmStartMs) / 1000.0
    // Let the oracle check finish, so its processes never compete with the
    // timed passes. Meanwhile, where the workload asks for them, more
    // untimed passes of the timed (`noop`) plans bring the JIT closer to its
    // steady state: curate_x1's pass right after the cold one ran 20-40%
    // slower and varied from run to run; olap_sf01's varied no more than
    // later passes.
    Files.writeString(a.out.resolve("warm.done"), "")
    (2 to a.warmPasses).foreach(i => runPass(-i, traced = false, dump = false))
    val go = a.out.resolve("go")
    val waitUntil = System.currentTimeMillis() + 300000L
    while (!Files.exists(go)) {
      if (System.currentTimeMillis() > waitUntil)
        throw new IllegalStateException("no go signal after the oracle check")
      Thread.sleep(20)
    }

    // Timed passes, as many as fit in the window (at least minPasses). A
    // traced run alternates untraced and traced passes, starting and ending
    // untraced, so the tracing overhead is measured inside one process and a
    // steady drift (the JIT still warming up) weighs on both sides alike.
    val passes = mutable.ArrayBuffer.empty[String]
    val timedStart = nowMs
    var last = 0.0
    var pass = 1
    while (pass <= a.minPasses || (nowMs - timedStart) / 1000.0 + last <= a.seconds) {
      val (wall, rec) = runPass(pass, traced = a.trace && pass % 2 == 0, dump = false)
      passes += rec
      last = wall
      pass += 1
    }
    val timedS = (nowMs - timedStart) / 1000.0

    if (a.trace) Files.write(a.out.resolve("spans.jsonl"),
      java.util.Arrays.asList(recorder.dump(): _*))
    val cpus = sc.defaultParallelism
    spark.stop()

    Files.writeString(a.out.resolve("result.json"), Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "dir" -> a.dir,
      "queries" -> a.queries, "trace" -> a.trace, "cpus" -> cpus,
      "setup_s" -> setupS, "timed_s" -> timedS,
      "resolve_s" -> Json.Raw(Json.obj(resolve: _*)),
      "warm" -> Json.Raw(warm),
      "passes" -> Json.Raw(passes.mkString("[", ",", "]"))))
  }

  /** CPU nanoseconds used so far by each JIT compiler thread, by thread id.
    * These are not Java threads, so only /proc/self/task shows them. The
    * protocol's `-XX:-UseDynamicNumberOfCompilerThreads` keeps every compiler
    * thread alive for the whole run, so none leaves with its CPU. */
  def jitCpuNs(): Map[String, Long] = {
    val tickNs = 10000000L // USER_HZ is 100 on Linux
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.flatMap { t =>
      try {
        val comm = Files.readString(t.toPath.resolve("comm")).trim
        if (!comm.contains("CompilerThre")) None
        else {
          val stat = Files.readString(t.toPath.resolve("stat"))
          // utime and stime, fields 14 and 15, after the parenthesized name
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          Some(t.getName -> (f(11).toLong + f(12).toLong) * tickNs)
        }
      } catch { case _: java.io.IOException => None } // the thread just ended
    }.toMap
  }

  /** The output the oracle check reads: `SparkEntry.dumpSort` applied and
    * one parquet file written, as graft.Verify does. */
  def writeDump(name: String, built: DataFrame, target: String): Unit = {
    val dump = SparkEntry.dumpSort.get(name)
      .map(ks => built.orderBy(ks.head, ks.tail: _*)).getOrElse(built)
    dump.coalesce(1).write.mode("overwrite").parquet(target)
  }
}
