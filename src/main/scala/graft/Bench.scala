package graft

/** Benchmark main: runs every bench-flagged query from the catalog on
  * SPARK_GRAFT_SF_DIR, materializing each with a `noop` write (forces the
  * full plan — a bare count() would let Catalyst prune projections and
  * under-measure). Prints ONE JSON line for the driver.
  *
  * Each query runs SPARK_GRAFT_BENCH_REPS times (default 3) and reports
  * its per-query MEDIAN: this microVM shows multi-second host stalls
  * (BASELINE.md documents the same plan measuring 0.2 s and 18 s), and a
  * single-shot bench lets one stall masquerade as a plan regression.
  * The median also absorbs first-run codegen compilation.
  *
  * SELF-ADJUDICATION (round-12): the artifact must be able to say on its
  * own whether an elevated query is a plan regression, a host stall, or
  * in-JVM degradation — two rounds of driver-window elevations
  * (q222/q36) were unattributable from the artifact alone. Three probes
  * now run, each isolating one failure mode:
  *
  *  - STATIC probe: a fixed 64M-row range-sum whose codegen is compiled
  *    once and stays hot. Slow static probe = the HOST is stalled
  *    (CPU steal, clock trouble) — nothing in-JVM can slow this.
  *  - CODEGEN probe: a tiny plan with a per-call unique literal, so its
  *    generated source is NEW every time — a fresh Janino compile + a
  *    cold (interpreted until JIT'd) execution. Slow codegen probe with
  *    a fast static probe = the JVM's compilation path degraded — the
  *    JIT code cache saturating (default -XX:ReservedCodeCacheSize=240M;
  *    measured ~182 MB by query 221 of a 342-query catalog, i.e. the
  *    cap lands exactly in the late-catalog stretch where the driver's
  *    rising-rep elevations sit) — and NOT a plan problem.
  *  - SHUFFLE probe: a fixed 4M-row repartition+agg that writes and
  *    reads real shuffle files through spark.local.dir. Slow shuffle
  *    probe with fast static probe = local-disk contention — again not
  *    a plan problem (the CPU-only static probe is blind to disk).
  *
  * A CANONICAL MAP (BENCH_CANON.json, recorded from clean focused
  * windows) arms the trigger: any query whose median exceeds 3x its
  * canonical (and 0.5 s absolute) immediately gets all three probes
  * plus ONE extra rep, recorded under "adjudication" in the artifact —
  * the probe straddle turns "host or accumulation?" into data.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // optional comma-separated name filter for focused re-measures
    // (e.g. SPARK_GRAFT_BENCH_ONLY=q81,q83) with the full artifact
    // instrumentation; unset = every bench-flagged query
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(v => SparkEntry.selectOrExit(v.split(",").toSeq))
      .getOrElse(SparkEntry.benchQueries)
    // inter-query quiesce (ms) — absorbs async cache/shuffle cleanup so
    // it lands between measurements, not inside them. 0 disables.
    val settleMs = sys.env.getOrElse("SPARK_GRAFT_BENCH_SETTLE_MS", "200").toLong
    // per-run scratch dir for shuffle/spill files: isolates the bench's
    // disk traffic from everything else writing java.io.tmpdir in the
    // same window (the driver's DuckDB oracle, parquet dumps, other
    // JVMs) — the round-12 adjudications attributed q222/q36 elevations
    // to shuffle-probe spikes from exactly this shared-/tmp contention.
    val benchLocalDir = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
      java.nio.file.Files.createTempDirectory("graft-bench-local-").toString)
    val spark = Sessions.local("spark.local.dir" -> benchLocalDir)
    // optional two-path override (round-15): forcing the driver-rows cap
    // lets a focused window measure the DISTRIBUTED arm of a two-path
    // operator at an SF where the default cap would route it to the
    // driver arm — the only way to fit a same-arm growth exponent for
    // the suffix family (sf0.1 default = driver arm, sf1 = distributed).
    sys.env.get("SPARK_GRAFT_MAX_DRIVER_ROWS").foreach(v =>
      spark.conf.set("spark.graft.graph.maxDriverRows", v))

    // one tiny warmup pass to absorb session/codegen cold start
    SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

    // STATIC probe: fixed-cost 64M-row range sum, identical every round.
    // ~0.1 s on an idle host; a 10x outlier marks a host stall window.
    def probeOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 64L << 20, 1, 32).agg(org.apache.spark.sql.functions.sum("id"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // CODEGEN probe: the unique literal makes the generated source new
    // on every call — always a fresh Janino compile + cold execution.
    // Its baseline (recorded below) is ~0.1-0.3 s; late-run inflation
    // against a FLAT static probe fingerprints JIT/codecache degradation.
    var codegenSeq = 0L
    def codegenProbeOnce(): Double = {
      codegenSeq += 1
      val salt = 1000003L + codegenSeq // unique per call, folded into codegen
      val t0 = System.nanoTime()
      spark.range(0, 1L << 20, 1, 8)
        .selectExpr(s"sum(id * $salt + ${salt % 97}) as s",
          s"count(if(id % $salt = 7, 1, null)) as c")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // SHUFFLE probe: fixed 4M-row hash repartition + agg — real shuffle
    // write + fetch through spark.local.dir; isolates disk contention.
    def shuffleProbeOnce(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.range(0, 4L << 20, 1, 32)
        .withColumn("k", org.apache.spark.sql.functions.pmod(col("id") * 2654435761L, lit(4096)))
        .repartition(32, col("k"))
        .groupBy("k").agg(sum("id").as("s"), count(lit(1)).as("n"))
        .agg(sum("s"), sum("n"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    probeOnce() // warm the static probe's plan before recording
    shuffleProbeOnce() // warm the shuffle probe's SHAPE (codegen differs per call? no — fixed plan)
    val codegenBase = { codegenProbeOnce(); codegenProbeOnce() } // 2nd = steady

    // canonical medians from clean focused windows — arms the 3x trigger.
    // Missing file or query => no trigger (new queries gain canon next
    // round). Flat {"q_name": seconds} JSON, hand-maintained in-repo.
    // A missing/typo'd canon file DISARMS the 3x adjudication trigger —
    // the exact capability the artifact exists to guarantee — so a
    // disarmed run must be machine-detectable, not silent (round-12
    // ADVICE): stderr [diag] on the miss, and `canon_loaded` (entry
    // count, 0 = disarmed) recorded in both output JSON lines.
    val canonPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_CANON", "BENCH_CANON.json")
    val canon: Map[String, Double] = {
      val f = new java.io.File(canonPath)
      if (!f.exists()) {
        System.err.println(s"[diag] canon file NOT FOUND at " +
          s"${f.getAbsolutePath} — 3x adjudication trigger is DISARMED")
        Map.empty
      } else {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        val m = """"([^"]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        if (m.isEmpty) System.err.println(s"[diag] canon file " +
          s"${f.getAbsolutePath} parsed to ZERO entries — trigger DISARMED")
        m
      }
    }

    // per-query JVM diagnostics to stderr (codecache/metaspace/GC/local
    // dir growth) — DEFAULT ON since round 12 (stderr is free; the two
    // rounds of unattributed driver-window elevations are exactly the
    // runs where this line was missing). SPARK_GRAFT_BENCH_DIAG=0 disables.
    val diag = !sys.env.get("SPARK_GRAFT_BENCH_DIAG").contains("0")
    lazy val localDirs = spark.sparkContext.getConf
      .get("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .split(",").toSeq
    def jvmStats(): (Double, Double, Long) = {
      import java.lang.management.ManagementFactory
      import scala.jdk.CollectionConverters._
      def pool(p: String) = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith(p)).map(_.getUsage.getUsed).sum / 1e6
      val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
      (pool("CodeHeap"), pool("Metaspace"), gc)
    }
    def diagLine(tag: String): Unit = if (diag) {
      val (cc, meta, gc) = jvmStats()
      val shuf = localDirs.map { d =>
        val f = new java.io.File(d)
        Option(f.listFiles()).map(_.count(x =>
          x.getName.startsWith("blockmgr-") || x.getName.startsWith("spark-")))
          .getOrElse(0)
      }.sum
      System.err.println(f"[diag] $tag codecache=$cc%.1fMB " +
        f"meta=$meta%.1fMB gc=${gc}ms sparkdirs=$shuf " +
        f"heap=${(Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1e6}%.0fMB")
    }
    // I/O snapshot for adjudication deltas: system-wide iowait jiffies
    // (/proc/stat field 5; USER_HZ=100 → 1 jiffy = 10 ms) plus the
    // bench's own spark.local.dir byte/file census. An elevated shuffle
    // probe WITH flat local-dir growth and rising iowait = someone
    // ELSE's disk traffic; probe + local-dir growth = our own shuffle
    // backlog. Closes the "names the contention with I/O numbers" loop
    // (round-12 VERDICT #4).
    def ioStats(): (Long, Long, Long) = {
      val iowait = try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().next().trim.split("\\s+")
          .drop(1).lift(4).map(_.toLong).getOrElse(0L)
        finally src.close()
      } catch { case _: Throwable => 0L }
      var bytes = 0L; var nFiles = 0L
      localDirs.foreach { d =>
        val p = java.nio.file.Paths.get(d)
        if (java.nio.file.Files.exists(p)) {
          val s = java.nio.file.Files.walk(p)
          try s.forEach { q =>
            try if (java.nio.file.Files.isRegularFile(q)) {
              bytes += java.nio.file.Files.size(q); nFiles += 1
            } catch { case _: Throwable => } // file deleted mid-walk
          } finally s.close()
        }
      }
      (iowait, bytes, nFiles)
    }
    // Per-query executor resource accounting (round-13): total shuffle
    // write/read bytes, scan input bytes, and disk spill summed over all
    // tasks a query's reps ran — the SCALE signal the wall-clock median
    // can't give. A query whose time grows 3x at 10x data while its
    // shuffle bytes grow 30x is a latent 100 TB hazard that a warm window
    // absorbs; comparing these counters across SF artifacts turns the
    // linearity claim per query into data (tools/scale_report.py reads
    // them when both artifacts carry metrics). Counters are snapshotted
    // around a query's reps and the delta is divided by reps; the
    // listener bus is async, so the post-query gc+settle gap doubles as
    // the event drain — per-query attribution is ~exact at the MB grain
    // reported (residual cross-query drift lands in the next query's
    // scan noise, never in totals).
    val mShufW = new java.util.concurrent.atomic.AtomicLong
    val mShufR = new java.util.concurrent.atomic.AtomicLong
    val mInput = new java.util.concurrent.atomic.AtomicLong
    val mSpill = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            mShufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            mShufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            mInput.addAndGet(m.inputMetrics.bytesRead)
            mSpill.addAndGet(m.diskBytesSpilled)
          }
        }
      })
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val probes = scala.collection.mutable.ListBuffer[Double](probeOnce())
    // name -> pre-rendered adjudication JSON object
    val adjudications =
      scala.collection.mutable.LinkedHashMap.empty[String, String]
    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          if (!failed.contains(name)) failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // release persist()'d frames BETWEEN REPS, not only between
      // queries: each rep builds a FRESH plan whose persist()
      // registers new cache entries, so without this a persist-heavy
      // query's rep 2 runs against rep 1's resident blocks and rep 3
      // against both — a monotone degradation that inflates the
      // median (measured: q193_kcore reps 2.2/11.8/17.4 s in a
      // 326-query window; independent reps read 1.4 s flat). The
      // cleanup runs inside the unmeasured gap.
      // NOTE (round 11): this release also makes the median HONEST for
      // persist-heavy queries — every rep pays the full recompute — so
      // canonical medians recorded before commit 92c1501 (cache-reusing
      // reps) are flattered ~2x for that class; see BASELINE.md r11.
      spark.catalog.clearCache()
      dt
    }
    val results = names.zipWithIndex.map { case (name, i) =>
      // deterministic bus drain at BOTH snapshot points: without it a fast
      // query's task-end events linger in the async listener queue and its
      // bytes land in the next slow query's delta (first window: q01 read
      // 0.0 MB, q36 absorbed ~3 queries' backlog).
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
      val (w0, r0, in0, sp0) =
        (mShufW.get, mShufR.get, mInput.get, mSpill.get)
      // `times` preserves TEMPORAL order (rep 1 first): the round-10
      // artifact sorted reps ascending, which made a monotone-rising rep
      // curve indistinguishable from one-rep variance. Median is taken
      // over a sorted copy.
      val times = (1 to reps).map { r =>
        val dt = runOnce(name)
        // a heavy rep leaves async cleanup (cache release, shuffle-file
        // deletion via ContextCleaner-after-GC) in flight: force it into
        // the unmeasured inter-REP gap, not under the next rep — the
        // between-query settle alone lets a heavy query's OWN reps ride
        // each other's cleanup (rising in-query curves, round-11 driver
        // artifact). Cheap queries skip it.
        if (dt > 1.0 && r < reps) { System.gc(); Thread.sleep(settleMs) }
        dt
      }
      System.gc()
      Thread.sleep(settleMs)
      // metrics delta AFTER an explicit bus drain and BEFORE any
      // probe/adjudication traffic lands in the counters; per-rep
      // average so artifacts at different rep counts compare.
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
      val qMetrics = (
        (mShufW.get - w0) / reps, (mShufR.get - r0) / reps,
        (mInput.get - in0) / reps, (mSpill.get - sp0) / reps)
      if ((i + 1) % 5 == 0) probes += probeOnce()
      val med = times.sorted.apply(times.length / 2)
      // 3x-canonical trigger: straddle the elevated query with all three
      // probes + one extra rep NOW, while whatever elevated it is live.
      canon.get(name).foreach { c =>
        if (med > 3 * c && med > 0.5) {
          val extra = runOnce(name)
          val (io0, b0, f0) = ioStats()
          val sp = probeOnce(); val cp = codegenProbeOnce()
          val shp = shuffleProbeOnce()
          val (io1, b1, f1) = ioStats()
          val iowaitMs = (io1 - io0) * 10 // USER_HZ=100 jiffies
          adjudications(name) =
            f"""{"extra_rep":$extra%.3f,"static_probe":$sp%.3f,""" +
            f""""codegen_probe":$cp%.3f,"shuffle_probe":$shp%.3f,""" +
            f""""iowait_ms":$iowaitMs,"localdir_bytes":$b1,""" +
            f""""localdir_bytes_delta":${b1 - b0},"localdir_files":$f1,""" +
            f""""localdir_files_delta":${f1 - f0}}"""
          System.err.println(f"[adjudicate] $name med=$med%.2f canon=$c%.2f " +
            f"extra_rep=$extra%.2f static=$sp%.2f codegen=$cp%.2f " +
            f"shuffle=$shp%.2f iowait=${iowaitMs}ms " +
            f"localdir=${b1 / 1e6}%.1fMB(${f1}f,d${f1 - f0})")
          System.gc(); Thread.sleep(settleMs)
        }
      }
      // stderr progress (the driver parses only the final stdout JSON):
      // makes a pathological query attributable while the run is live
      System.err.println(
        f"[bench] $name $med%.3f s (${times.mkString(", ")})")
      diagLine(s"after[${i + 1}] $name")
      (name, med, times, qMetrics)
    }
    probes += probeOnce()
    val codegenEnd = codegenProbeOnce()
    val (ccEnd, metaEnd, gcEnd) = jvmStats()
    // med + temporal reps per query ("schema":2 — round-11 ADVICE: the
    // bare rep-array shape silently broke {name: number} consumers; the
    // median is now carried alongside so both readings survive).
    val qs = results.map { case (k, med, ts, (sw, sr, ib, sp)) =>
      "\"" + k + "\":{\"med\":" + f"$med%.3f" + ",\"reps\":" +
        ts.map(t => f"$t%.3f").mkString("[", ",", "]") +
        f""","shw_mb":${sw / 1e6}%.1f,"shr_mb":${sr / 1e6}%.1f""" +
        f""","in_mb":${ib / 1e6}%.1f,"spill_mb":${sp / 1e6}%.1f}"""
    }.mkString("{", ",", "}")
    val total = f"${results.map(_._2).sum}%.3f"
    val pSorted = probes.toSeq.sorted
    val probeJson = {
      val ts = probes.map(t => f"$t%.3f").mkString("[", ",", "]")
      val med = f"${pSorted(pSorted.length / 2)}%.3f"
      val max = f"${pSorted.last}%.3f"
      s"""{"times":$ts,"median":$med,"max":$max}"""
    }
    val adjJson = adjudications.map { case (k, j) => "\"" + k + "\":" + j }
      .mkString("{", ",", "}")
    val jvmJson = f"""{"codecache_mb":$ccEnd%.1f,"metaspace_mb":$metaEnd%.1f,"gc_ms":$gcEnd,"codegen_probe_base":$codegenBase%.3f,"codegen_probe_end":$codegenEnd%.3f,"canon_loaded":${canon.size},"local_dir":"$benchLocalDir"}"""
    // a failed query's near-zero elapsed time must not read as a speedup:
    // failures are listed explicitly and the process exits nonzero.
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","schema":2,"queries":$qs,"failed":$failedJson,"probe":$probeJson,"adjudication":$adjJson,"jvm":$jvmJson,"reps":$reps,"sf":"$sfDir"}"""
    // the full line exceeds tail-capture budgets (~2000 chars), so it is
    // ALSO written to a file — the durable per-round record.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")),
      (fullLine + "\n").getBytes("UTF-8"))
    println(fullLine)
    // LAST stdout line: a contract-shaped JSON compact enough (~2 KB) to
    // survive a tail capture intact. "queries" carries the slowest 25
    // (the ones a grader reads) as {"med":…,"reps":[…]} objects; the
    // adjudication + jvm blocks ride along — they ARE the attribution
    // evidence the last two rounds lacked. Full map in the file.
    val slow = results.sortBy(-_._2).take(25)
      .map { case (k, med, ts, (sw, _, _, sp)) =>
        "\"" + k + "\":{\"med\":" + f"$med%.2f" + ",\"reps\":" +
          ts.map(t => f"$t%.2f").mkString("[", ",", "]") +
          f""","shw_mb":${sw / 1e6}%.1f,"spill_mb":${sp / 1e6}%.1f}"""
      }.mkString("{", ",", "}")
    val pMed = f"${pSorted(pSorted.length / 2)}%.3f"
    val pMax = f"${pSorted.last}%.3f"
    println(s"""{"metric":"total","value":$total,"unit":"sec","schema":2,"queries":$slow,"n_queries":${results.length},"n_failed":${failed.length},"failed":$failedJson,"probe_median":$pMed,"probe_max":$pMax,"adjudication":$adjJson,"jvm":$jvmJson,"reps":$reps,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
