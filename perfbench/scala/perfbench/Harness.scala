package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum, xxhash64}

/** One benchmark run: set-up, a cold pass, then warm passes for the
  * requested seconds, one call at a time (closed loop, one caller).
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *                --data DIR --out DIR [--cpus C] [--calls a,b,...]
  *                [--drop-events 1]
  *
  * Writes `<out>/harness.json` (timings, per-call records, traced layer
  * metrics) plus what the output check reads: each distinct result of a
  * call under `<out>/results/<call>/<k>`, and for agg_kernel the
  * generated input under `<out>/input`. The caller (run.py) checks the
  * outputs and prints the result line. */
object Harness {

  final case class Call(name: String, run: () => DataFrame)

  final case class Rec(name: String, pass: Int, traced: Boolean,
      start: Long, buildEnd: Long, end: Long, wallMs: Double, buildMs: Double,
      ok: Boolean, error: String, dump: String, heldMb: Double, rddsHeld: Int,
      tmpGrowth: Long, group: String, trackerJobs: Set[Int] = Set.empty)

  /** Timed set-ups per run, after one untimed warm-up set-up; `setup_s`
    * is their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed     = args("seed").toLong
    val seconds  = args("seconds").toDouble
    val traced   = args("trace") == "1"
    val dataDir  = args("data")
    val out      = Paths.get(args("out"))
    val cpus     = args.getOrElse("cpus", "4").toInt
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(out)

    val registry = workload match {
      case "registry_rows" => Some(Workloads.Registry)
      case "agg_kernel"   => None
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val only = args.get("calls").map(_.split(",").toSeq)

    // ---- set-up: a fresh Spark session plus the workload's inputs, once
    // untimed (it pays JVM class loading and first codegen; JVM start to
    // its end is reported as jvm_s), then SetupReps times; setup_s is their
    // median. The passes use the last set-up's session and inputs. ----
    var spark: SparkSession = null
    var inputs: AggKernel.Inputs = null
    var jvmS = 0.0
    val setups = (0 to SetupReps).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus)
      registry match {
        case None => inputs = AggKernel.prepare(spark, seed, cpus)
        case Some(list) =>
          // opening the tables the calls read (footer + schema)
          tablesOf(list.map(_._1)).foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").schema)
      }
      if (i == 0) jvmS = (System.currentTimeMillis() - jvmStart) / 1000.0
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = setups.drop(1).sorted.apply(SetupReps / 2)
    // attached only to traced passes
    val trace = new Trace(spark, dropEvents = args.get("drop-events").contains("1"))

    val calls: Seq[Call] = registry match {
      case Some(list) =>
        val q = graft.SparkEntry.queries
        val names = only.getOrElse(list.map(_._1))
        names.map(n => Call(n, () => q(n)(spark, dataDir)))
      case None =>
        AggKernel.Cells
          .filter { case (n, _) => only.forall(_.contains(n)) }
          .map { case (n, f) => Call(n, () => f(spark, inputs)) }
    }
    if (registry.isDefined) writeOracleSql(out, calls.map(_.name))
    // the self-test compares this across runs: same seed, same input
    val inputDigest = registry match {
      case None =>
        // the checker compares every cell with DuckDB over this same input
        inputs.random.write.mode("overwrite").parquet(out.resolve("input").toString)
        val d = inputs.random.select(count(lit(1)),
          sum(pmod(xxhash64(inputs.random.columns.map(col).toIndexedSeq: _*), lit(1L << 40))))
          .head()
        s"${d.getLong(0)}-${d.getLong(1)}"
      case Some(_) => dataDir
    }

    // ---- timed passes ----
    val sc = spark.sparkContext
    val tmpDir = Paths.get(sys.props("java.io.tmpdir"))
    val recs = mutable.ArrayBuffer[Rec]()
    val digests = mutable.Map[(String, String), String]()
    var callSeq = 0

    // the kernel inputs are the workload's set-up: isolation keeps them
    val keepRdds = sc.getPersistentRDDs.keySet.toSet
    var isolateNs = 0L
    def isolate(): Unit = {
      // the graft.Bench isolation: drop the SQL cache and every persisted
      // RDD between calls, then settle the GC outside the timed region
      val t0 = System.nanoTime()
      spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.foreach { case (id, r) =>
        if (!keepRdds(id)) r.unpersist(blocking = false)
      }
      System.gc()
      isolateNs += System.nanoTime() - t0
    }

    def storageMb(): Double =
      sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1048576.0

    def once(c: Call, pass: Int, tracedPass: Boolean): Rec = {
      isolate()
      callSeq += 1
      val group = s"perfbench-$callSeq-${c.name}"
      sc.setJobGroup(group, c.name)
      val tmpBefore = if (tracedPass) dirBytes(tmpDir) else 0L
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var buildEnd = start
      var tb = t0
      var dump = ""
      var err = ""
      var rowsOut: Array[Row] = null
      var df: DataFrame = null
      val ok = try {
        df = c.run()
        tb = System.nanoTime(); buildEnd = System.currentTimeMillis()
        rowsOut = df.collect()
        true
      } catch { case e: Throwable =>
        err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").split("\n").head}"
        false
      }
      val t1 = System.nanoTime()
      val end = System.currentTimeMillis()
      if (tb == t0) { tb = t1; buildEnd = end }
      val held = storageMb()
      val rdds = sc.getPersistentRDDs.size - keepRdds.size
      sc.clearJobGroup()
      val tmpGrowth = if (tracedPass) math.max(0L, dirBytes(tmpDir) - tmpBefore) else 0L
      if (ok) {
        // every call's rows are checked: a digest already checked is
        // reused, a new one is written out for the output check
        val d = digest(rowsOut)
        dump = digests.getOrElseUpdate((c.name, d), {
          val k = digests.keys.count(_._1 == c.name)
          val dir = out.resolve(s"results/${c.name}/$k")
          if (registry.isDefined)
            spark.createDataFrame(rowsOut.toList.asJava, df.schema)
              .coalesce(1).write.mode("overwrite").parquet(dir.toString)
          else writeCsv(rowsOut, df.columns.toSeq, dir)
          s"results/${c.name}/$k"
        })
      }
      if (!ok) System.err.println(s"[perfbench] ${c.name} FAILED: $err")
      Rec(c.name, pass, tracedPass, start, buildEnd, end,
        (t1 - t0) / 1e6, (tb - t0) / 1e6, ok, err, dump, held, rdds, tmpGrowth, group)
    }

    def shuffled(p: Int): Seq[Call] = new scala.util.Random(seed * 1000003L + p).shuffle(calls)

    def pass(p: Int, tracedPass: Boolean): Double = {
      if (tracedPass) trace.attach()
      var rs = shuffled(p).map(c => once(c, p, tracedPass))
      if (tracedPass) {
        trace.detach() // waits for the listener bus to deliver the pass
        // the jobs Spark's status tracker holds for each call's job
        // group: Layers reconciles the listener's jobs against them
        rs = rs.map(r => r.copy(trackerJobs =
          sc.statusTracker.getJobIdsForGroup(r.group).toSet))
      }
      recs ++= rs
      rs.map(_.wallMs).sum / 1000.0
    }

    val calib = if (traced) Some(calibrate(spark)) else None
    val cold = pass(0, tracedPass = traced)
    val warmStart = System.nanoTime()
    val warm = mutable.ArrayBuffer[(Double, Boolean)]()
    // at least two warm passes (pass_s is their median). A traced run
    // makes at least five: warm pass 1 (still JIT warm-up) untraced, then
    // traced and untraced passes alternate, and the tracing overhead is
    // the median traced pass against the median untraced one after pass 1.
    val minWarm = if (traced) 5 else 2
    var p = 1
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    while (warm.size < minWarm || elapsed + warm.last._1 <= seconds) {
      val tp = traced && p % 2 == 0
      warm += pass(p, tp) -> tp
      p += 1
    }
    val calibLast = if (traced) Some(calibrate(spark)) else None
    val loadAvg = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    spark.stop() // drains the listener bus: every traced event is in

    // ---- report ----
    val warmRecs = recs.filter(_.pass > 0)
    val json = new StringBuilder("{")
    def kv(k: String, v: String): Unit = {
      if (json.length > 1) json ++= ","
      json ++= jstr(k) ++= ":" ++= v
    }
    kv("workload", jstr(workload))
    kv("seed", seed.toString)
    kv("setup_s", num(setupS))
    kv("jvm_s", num(jvmS))
    kv("setups_s", setups.map(num).mkString("[", ",", "]"))
    kv("isolate_s", num(isolateNs / 1e9))
    kv("cold_pass_s", num(cold))
    kv("warm_passes", warm.map { case (s, t) =>
      s"""{"s":${num(s)},"traced":$t}""" }.mkString("[", ",", "]"))
    kv("kernel_rows", AggKernel.Rows.toString)
    kv("input_digest", jstr(inputDigest))
    kv("calls", recs.map { r =>
      s"""{"name":${jstr(r.name)},"pass":${r.pass},""" +
        s""""traced":${r.traced},"wall_ms":${num(r.wallMs)},"build_ms":${num(r.buildMs)},""" +
        s""""ok":${r.ok},"error":${jstr(r.error)},"dump":${jstr(r.dump)},""" +
        s""""held_mb":${num(r.heldMb)},"rdds_held":${r.rddsHeld}}"""
    }.mkString("[", ",", "]"))
    if (traced) {
      val m = Layers.compute(trace, warmRecs.toSeq, cpus, warm.toSeq,
        calib.get, calibLast.get, loadAvg)
      kv("layers", m.map { case (k, v) => s"${jstr(k)}:${num(v)}" }.mkString("{", ",", "}"))
      kv("spans", Layers.spans(trace, recs.filter(_.traced).toSeq).mkString("[", ",", "]"))
    }
    json ++= "}"
    Files.write(out.resolve("harness.json"), json.toString.getBytes(UTF_8))
  }

  private def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(sys.props("java.io.tmpdir") + "/rdd-checkpoints")
    spark
  }

  /** The graft.Bench calibration probe: a fixed in-memory aggregation,
    * median of three after one untimed run. */
  private def calibrate(spark: SparkSession): Double = {
    spark.range(1L << 26).selectExpr("sum(id * 7L)").collect()
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1L << 26).selectExpr("sum(id * 7L)").collect()
      (System.nanoTime() - t0) / 1e6
    }.sorted
    ts(1)
  }

  /** The test tables named by the calls' oracle SQL. */
  private def tablesOf(calls: Seq[String]): Seq[String] = {
    val sql = calls.map(graft.SparkEntry.oracleSql(_).toLowerCase)
    Workloads.Tables.filter(t => sql.exists(s"\\b$t\\b".r.findFirstIn(_).isDefined))
  }

  private def writeOracleSql(out: Path, names: Seq[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val body = names.map(n => s"${jstr(n)}:${jstr(sql(n))}").mkString("{", ",", "}")
    Files.write(out.resolve("oracle_sql.json"), body.getBytes(UTF_8))
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => try Files.size(f) catch { case _: Throwable => 0L }).sum
      catch { case _: Throwable => 0L }
      finally s.close()
    }

  /** Kernel results are flat (long, int, double, decimal): plain CSV
    * with exact text (Double.toString round-trips, decimals print plain),
    * empty for NULL. Far cheaper than a Spark write of 10^5 rows. */
  private def writeCsv(rows: Array[Row], cols: Seq[String], dir: Path): Unit = {
    Files.createDirectories(dir)
    val w = Files.newBufferedWriter(dir.resolve("part.csv"), UTF_8)
    try {
      w.write(cols.mkString(",")); w.newLine()
      rows.foreach { r =>
        w.write(r.toSeq.map {
          case null => ""
          case d: java.math.BigDecimal => d.toPlainString
          case v => v.toString
        }.mkString(","))
        w.newLine()
      }
    } finally w.close()
  }

  /** Order-independent digest of a result: the row count and the
    * wrapping sum of a 64-bit hash of each row's canonical string. */
  private def digest(rows: Array[Row]): String = {
    def cell(v: Any): String = v match {
      case null                  => "\u0000"
      case b: Array[Byte]        => b.map("%02x".format(_)).mkString("0x", "", "")
      case r: Row                => r.toSeq.map(cell).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
      case x => x.toString
    }
    var sum = 0L
    rows.foreach { r =>
      val s = cell(r)
      sum += (scala.util.hashing.MurmurHash3.stringHash(s).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995) & 0xffffffffL)
    }
    s"${rows.length}-${java.lang.Long.toHexString(sum)}"
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
