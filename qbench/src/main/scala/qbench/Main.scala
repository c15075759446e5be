package qbench

import graft.{SparkEntry, Tables}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The measuring half of the query benchmark: one JVM, one SparkSession,
  * one client thread in a closed loop. `run.py` builds this, chooses the
  * key order of every pass from the seed, and turns what this writes into
  * metrics; see README.md in this directory.
  *
  * Arguments (`name=value`): corpus, orders (a file, one pass per line,
  * keys separated by spaces), out (a directory), cpus, memos (the memo
  * builders each set-up runs, comma-separated), seconds (the measured loop
  * runs whole passes, at least two, until they have gone by), cold (0/1:
  * release every memo before each request), trace (0/1: record spans on
  * every other measured pass).
  *
  * Writes to `out`: requests.jsonl (one line per request), spans.jsonl
  * (trace only), run.json (set-up, loop, host facts and each key's checked
  * digest) and check/ (each key's output as parquet plus oracle_sql.json,
  * for the DuckDB oracle). */
object Main {
  final case class Req(rid: String, pass: Int, key: String, traced: Boolean,
      beginUs: Long, startUs: Long, constructUs: Long, planUs: Long,
      execUs: Long, endUs: Long, cpuNs: Long, ok: Boolean, digest: String,
      storageBytes: Long, viewsBuilt: Int)

  private val memoBuilders: Seq[(String, (SparkSession, String) => Long)] = Seq(
    "events" -> ((s, d) => Tables.events(s, d).count()),
    "ratings" -> ((s, d) => Tables.ratings(s, d).count()),
    "cappedRatings" -> ((s, d) => Tables.cappedRatings(s, d).count()),
    "contribRatings" -> ((s, d) => Tables.contribRatings(s, d).count()),
    "biasScored" -> ((s, d) => Tables.biasScored(s, d).count()),
    "pairSupport" -> ((s, d) => Tables.pairSupport(s, d).count()),
    "itemDots" -> ((s, d) => Tables.itemDots(s, d).count()))

  /** Set-ups timed per run; `setup_s` is their median. */
  private val Setups = 3

  private val baseTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The session `graft.Bench` builds, at `cpus` cores. */
  def session(cpus: Int): SparkSession = {
    val spark = graft.Scratch.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val corpus = opt("corpus")
    val out = Paths.get(opt("out"))
    val cpus = opt("cpus").toInt
    val seconds = opt("seconds").toDouble
    val cold = opt("cold") == "1"
    val memos = opt("memos").split(",").toSeq.filter(_.nonEmpty)
    val trace = opt("trace") == "1"
    val passes = Files.readAllLines(Paths.get(opt("orders"))).asScala
      .map(_.trim.split("\\s+").toSeq).filter(_.nonEmpty).toIndexedSeq
    val keys = passes.head.distinct.sorted
    val missing = keys.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown keys: ${missing.mkString(" ")}")
    Files.createDirectories(out)

    val rt = ManagementFactory.getRuntimeMXBean
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum
    val epoch0Us = System.currentTimeMillis() * 1000
    val nano0 = System.nanoTime()
    def nowUs: Long = epoch0Us + (System.nanoTime() - nano0) / 1000

    val tracer = new Tracer
    val reqs = Vector.newBuilder[Req]
    var passNo = 0
    var spark: SparkSession = null

    // cached relations only: broadcast blocks also occupy storage memory,
    // but the context cleaner frees them at GC-dependent times
    def storageBytes: Long = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    def memoViews: Int = spark.catalog.listTables().collect()
      .count(_.name.startsWith("graft_memo_"))

    /** One request: construct, plan and execute the digest of one key. The
      * span from `begin` to `end` also holds the harness's own bookkeeping,
      * which the trace reports as unattributed time. */
    def request(key: String, traced: Boolean): Req = {
      if (cold) Tables.release(spark)
      val begin = nowUs
      val rid = s"r${passNo}_$key"
      val sc = spark.sparkContext
      val viewsBefore = if (traced) memoViews else 0
      sc.setJobGroup(rid, key, interruptOnCancel = false)
      val fn = SparkEntry.queries(key)
      val cpu0 = os.getProcessCpuTime
      val t0 = nowUs
      var t1, t2 = t0
      val res = try {
        sc.setLocalProperty(Tracer.PhaseKey, "construct")
        val df = fn(spark, corpus)
        t1 = nowUs
        sc.setLocalProperty(Tracer.PhaseKey, "plan")
        val d = Digest.frame(df)
        d.queryExecution.executedPlan
        t2 = nowUs
        sc.setLocalProperty(Tracer.PhaseKey, "exec")
        Right(Digest.render(d.collect().head))
      } catch { case e: Throwable => Left(e) }
      val t3 = nowUs
      val cpu = os.getProcessCpuTime - cpu0
      sc.setLocalProperty(Tracer.PhaseKey, null)
      sc.clearJobGroup()
      res.left.foreach(e => System.err.println(s"[qbench] $key failed: $e"))
      // a throw leaves the later phases at zero length
      if (t1 == t0) t1 = t3
      if (t2 == t0) t2 = t3
      val storage = storageBytes
      val views = if (traced) memoViews - viewsBefore else 0
      Req(rid, passNo, key, traced, begin, t0, t1 - t0, t2 - t1, t3 - t2,
        nowUs, cpu, res.isRight, res.getOrElse(""), storage, views)
    }

    /** Builds the named memos (of those `graft.Bench` warms); returns
      * each one's ms. */
    def buildMemos(names: Seq[String]): Seq[(String, Double)] =
      memoBuilders.filter(m => names.contains(m._1)).map { case (name, b) =>
        val b0 = System.nanoTime(); b(spark, corpus)
        name -> (System.nanoTime() - b0) / 1e6
      }

    def runPass(traced: Boolean): Seq[Req] = {
      val order = passes(passNo % passes.size)
      val rs = order.map(k => request(k, traced))
      passNo += 1
      rs
    }

    // ---- set-up, repeated: a fresh session and the workload's memo builds.
    // The first counts from process start, the others from the new
    // session's start.
    val setupS = Seq.newBuilder[Double]
    for (i <- 0 until Setups) {
      if (spark != null) { Tables.release(spark); spark.stop() }
      val start = if (i == 0) rt.getStartTime * 1000 else nowUs
      spark = session(cpus)
      buildMemos(memos)
      setupS += (nowUs - start) / 1e6
    }

    // wall seconds since JVM start at the end of each phase of the run
    val marks = Seq.newBuilder[String]
    def mark(name: String): Unit =
      marks += s"${Json.str(name)}:${(nowUs - rt.getStartTime * 1000) / 1e6}"
    mark("setup")

    // ---- the check pass, untimed: each key's output, cached once, gives
    // its digest and the parquet the DuckDB oracle reads. It also warms the
    // JIT and the lazily built memos before the measured loop. Memos are
    // kept even on a cold workload, so its requests must also match what
    // a warm session computes.
    val checkDir = out.resolve("check")
    val checks = keys.map { k =>
      val c0 = System.nanoTime()
      val digest = try {
        val df = SparkEntry.queries(k)(spark, corpus).persist()
        try {
          val d = Digest.of(df)
          // coalesce only regroups the cached blocks into one file here
          if (SparkEntry.oracleSql.contains(k))
            df.coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(k).toString)
          d
        } finally df.unpersist()
      } catch { case e: Throwable =>
        System.err.println(s"[qbench] check of $k failed: $e"); "" }
      System.err.println(f"[qbench] check of $k took ${(System.nanoTime() - c0) / 1e9}%.2f s")
      s"${Json.str(k)}:${Json.str(digest)}"
    }
    Files.createDirectories(checkDir)
    Files.writeString(checkDir.resolve("oracle_sql.json"), keys.flatMap(k =>
      SparkEntry.oracleSql.get(k).map(sql => s"${Json.str(k)}:${Json.str(sql)}"))
      .mkString("{", ",", "}"))
    mark("check")
    spark.sparkContext.addSparkListener(tracer)

    // ---- the measured loop: whole passes, at least two, until `seconds`
    // have gone by
    val stat0 = procStat()
    val gc0 = gcMs
    val loop0 = System.nanoTime()
    var traced = false
    var timedPasses = 0
    while (System.nanoTime() - loop0 < seconds * 1e9 || timedPasses < 2) {
      // in a traced run every other pass is traced, which gives the
      // tracing overhead from one run
      traced = trace && !traced
      tracer.on = traced
      reqs ++= runPass(traced)
      timedPasses += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    mark("loop")
    val loopGcMs = gcMs - gc0
    val stat1 = procStat()
    tracer.on = false
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // ---- untimed, traced runs only: one base-table resolution and each
    // memo build, on the warm session
    val resolveMs = if (!trace) Nil else for (_ <- 0 until 3; t <- baseTables) yield {
      val r0 = System.nanoTime(); Tables.table(spark, corpus, t)
      (System.nanoTime() - r0) / 1e6
    }
    val memoProbeMs =
      if (!trace) Nil else { Tables.release(spark); buildMemos(memoBuilders.map(_._1)) }
    tracer.drain()
    spark.stop()
    mark("stop")

    val all = reqs.result()
    writeLines(out.resolve("requests.jsonl"), all.map { r =>
      s"""{"rid":"${r.rid}","pass":${r.pass},"key":"${r.key}","traced":${r.traced},""" +
        s""""begin_us":${r.beginUs},"start_us":${r.startUs},""" +
        s""""construct_us":${r.constructUs},"plan_us":${r.planUs},"exec_us":${r.execUs},""" +
        s""""end_us":${r.endUs},"cpu_ns":${r.cpuNs},""" +
        s""""ok":${r.ok},"digest":${Json.str(r.digest)},"storage_bytes":${r.storageBytes},""" +
        s""""views_built":${r.viewsBuilt}}"""
    })
    if (trace) writeLines(out.resolve("spans.jsonl"), tracer.spanLines)
    val steal = {
      val d = stat1.zip(stat0).map { case (a, b) => a - b }
      if (d.sum > 0 && d.size > 7) d(7).toDouble / d.sum else 0.0
    }
    Files.writeString(out.resolve("run.json"),
      s"""{"setup_s":${setupS.result().mkString("[", ",", "]")},""" +
      s""""memo_probe_ms":${memoProbeMs.map { case (k, v) => s"${Json.str(k)}:$v" }
        .mkString("{", ",", "}")},""" +
      s""""resolve_ms":${resolveMs.mkString("[", ",", "]")},""" +
      s""""marks_s":${marks.result().mkString("{", ",", "}")},"loop_s":$loopS,"loop_gc_ms":$loopGcMs,"heap_used_mb":$heapMb,""" +
      s""""steal_frac":$steal,"cpus":$cpus,"passes":${passNo},""" +
      s""""heap_max_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
      s""""java":${Json.str(System.getProperty("java.version"))},""" +
      s""""local_dir":${Json.str(graft.Scratch.localDir.getOrElse(""))},""" +
      s""""checks":${checks.mkString("{", ",", "}")}}""")
  }

  /** The aggregate `cpu` line of /proc/stat (empty where there is none). */
  private def procStat(): Seq[Long] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).toSeq
      .flatMap(_.trim.split("\\s+").drop(1).map(_.toLong))
    finally src.close()
  } catch { case _: java.io.IOException => Nil }

  private def writeLines(p: Path, lines: Seq[String]): Unit =
    Files.write(p, lines.asJava)
}

object Json {
  /** A JSON string literal. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
