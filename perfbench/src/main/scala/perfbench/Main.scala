package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.EngineConf

final case class Conf(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, work: String, out: String,
                      cores: Int, commit: String)

/** The benchmark's JVM side: one workload, one seed, one closed loop.
  *
  * Usage (normally through `perfbench/run.py`):
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <work dir> --out <result dir> [--commit <id>]`
  *
  * Prints every metric as `metric <name> = <value> <unit>` and, as the
  * last stdout line, one JSON object: the end-to-end metrics with
  * `--trace 0`, the per-layer metrics with `--trace 1`; `run.py` picks the
  * ones `BENCHMARK.json` names. Exits 1 when an output check fails or an
  * op fails. */
object Main {

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments near ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace $t: expected 0|1")
    }
    val conf = Conf(need("workload"), need("seed").toLong, need("seconds").toInt,
      trace, need("work"), need("out"), Runtime.getRuntime.availableProcessors,
      kv.getOrElse("commit", "unknown"))
    require(Workload.Names.contains(conf.workload),
      s"unknown workload '${conf.workload}' (expected ${Workload.Names.mkString("|")})")
    require(conf.seconds >= 1, "--seconds must be >= 1")
    conf
  }

  def loadAvg: Double =
    scala.util.Try(java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble)
      .getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val loadStart = loadAvg
    var loadMax = loadStart
    val t0 = System.nanoTime()
    val b = EngineConf.tune(SparkSession.builder()
      .appName(s"perfbench-${conf.workload}")
      .master(s"local[${conf.cores}]")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse"))
    if (conf.trace)
      b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    if (conf.trace) {
      val fs = new org.apache.hadoop.fs.Path(s"file://${conf.work}")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingLocalFileSystem],
        s"counting filesystem not installed (got ${fs.getClass.getName})")
    }
    val code =
      try run(spark, conf, sessionS, () => { loadMax = math.max(loadMax, loadAvg); loadMax },
        loadStart)
      finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }

  private def run(spark: SparkSession, conf: Conf, sessionS: Double,
                  sampleLoad: () => Double, loadStart: Double): Int = {
    // --- set-up: inputs, base state and the untimed warm-up pass ---------
    val checks = new Checks
    val t = System.nanoTime()
    val w = Workload(conf.workload, conf.seed)
    val setupEnv = new Env(spark, conf, new Recorder(false), checks)
    w.setup(setupEnv, s"${conf.work}/setup")
    w.warmup(setupEnv)
    val setupS = sessionS + (System.nanoTime() - t) / 1e9
    sampleLoad()

    // --- the timed closed loop: whole rounds until `seconds` have passed.
    // Every metric covers the first round only, the same work on every run
    // of a seed however many rounds the machine fits; later rounds are in
    // the run file.
    val rec = new Recorder(conf.trace)
    val env = new Env(spark, conf, rec, checks)
    val probe = if (conf.trace) Some(new SparkProbe(spark)) else None
    probe.foreach(_.install())
    var samples = Map.empty[String, Double]
    var peakRssMb, heapPeakMb, gcS = 0.0
    Jvm.resetHeapPeak()
    val gc0 = Jvm.gcMillis
    var failed = 0
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    try {
      rec.round = 0
      while (rec.round == 0 || elapsed < conf.seconds) {
        w.cycle.foreach { op => op(env); sampleLoad() }
        if (rec.round == 0) {
          peakRssMb = Jvm.peakRssBytes / 1048576.0
          heapPeakMb = Jvm.heapPeakBytes / 1048576.0
          gcS = (Jvm.gcMillis - gc0) / 1e3
          w.snapshotSpace(env)
          if (conf.trace) samples = w.sample(env)
        }
        rec.round += 1
      }
    } catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"OP FAILED ${rec.ops.lastOption.map(_.kind).getOrElse("?")}: $e")
        e.printStackTrace()
    }
    val loopS = elapsed
    probe.foreach(_.drain())

    // --- checks and space, untimed --------------------------------------
    if (failed == 0) w.verify(env)
    val (liveBytes, userBytes) = w.space(env)

    val ops = rec.ops.toSeq
    val first = ops.filter(o => o.ok && o.round == 0)
    val attempted = ops.length
    val correct = failed == 0 && checks.failures.isEmpty && checks.run > 0

    // --- end-to-end metrics, over the first round -----------------------
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val stamp = mutable.LinkedHashMap.empty[String, Any]
    def of(cls: String) = first.filter(_.cls == cls)
    e2e("setup_s") = (setupS, "s")
    e2e("wall_s") = (first.map(_.seconds).sum, "s")
    Seq(OpClass.Write, OpClass.Read, OpClass.Fold).foreach { cls =>
      val xs = of(cls).map(_.seconds)
      if (xs.nonEmpty) e2e(s"${cls}_p50_s") = (Stats.median(xs), "s")
      if (cls != OpClass.Fold) stamp(s"${cls}_tail") = Stats.tail(xs) match {
        case Some(t) =>
          e2e(s"${cls}_tail_s") = (t.value, "s")
          Map("pct" -> t.pct, "n" -> t.n, "beyond" -> t.beyond)
        case None => Map("pct" -> None, "n" -> xs.length, "beyond" -> 0)
      }
    }
    def rowsPerS(cls: String) = of(cls).map(_.rows).sum / of(cls).map(_.seconds).sum
    if (of(OpClass.Write).nonEmpty) e2e("ingest_rows_per_s") = (rowsPerS(OpClass.Write), "rows/s")
    if (of(OpClass.Read).nonEmpty) e2e("read_rows_per_s") = (rowsPerS(OpClass.Read), "rows/s")
    val userIn = of(OpClass.Write).map(_.userBytes).sum
    if (userIn > 0) {
      val fsW = first.filter(_.cls != OpClass.Read).map(_.io.bytesWritten).sum
      e2e("write_amp") = (fsW.toDouble / userIn, "ratio")
    }
    if (userBytes > 0) e2e("space_amp") = (liveBytes.toDouble / userBytes, "ratio")
    e2e("peak_rss_mb") = (peakRssMb, "MB")
    e2e("fail_ratio") = (if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio")

    // --- per-layer metrics (traced run), over the first round -----------
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    probe.foreach { p =>
      val ids = first.map(_.id).toSet
      layers ++= LayerReport(p, first, rec.spans.toSeq.filter(s => ids(s.op)),
        conf.cores, gcS, heapPeakMb)
      samples.foreach { case (k, v) => layers(k) = (v, "count") }
      layers("trace.wall_s") = e2e("wall_s")
    }

    stamp("workload") = conf.workload
    stamp("seed") = conf.seed
    stamp("seconds") = conf.seconds
    stamp("trace") = conf.trace
    stamp("commit") = conf.commit
    stamp("nproc") = conf.cores
    stamp("load_start") = loadStart
    stamp("load_max") = sampleLoad()
    stamp("jvm") = System.getProperty("java.version")
    stamp("spark") = spark.version
    stamp("hadoop") = org.apache.hadoop.util.VersionInfo.getVersion
    stamp("inputs") = w.inputs
    stamp("loop_s") = loopS
    stamp("rounds") = rec.round
    stamp("ops") = first.groupBy(_.kind).map { case (k, v) => k -> v.length }
    stamp("checks") = checks.run
    stamp("check_failures") = checks.failures.toSeq
    stamp("live_bytes") = liveBytes
    stamp("user_live_bytes") = userBytes

    def named(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }
    val shown = if (conf.trace) layers else e2e
    shown.foreach { case (k, (v, u)) => println(f"metric $k = $v%.6g $u") }
    val file = new java.io.File(
      s"${conf.out}/${conf.workload}-seed${conf.seed}-trace${if (conf.trace) 1 else 0}.json")
    file.getParentFile.mkdirs()
    json.writeValue(file, mutable.LinkedHashMap("stamp" -> stamp,
      "end_to_end" -> named(e2e), "per_layer" -> named(layers),
      "ops" -> ops.map(o => mutable.LinkedHashMap("id" -> o.id, "kind" -> o.kind,
        "class" -> o.cls, "round" -> o.round, "seconds" -> o.seconds,
        "rows" -> o.rows, "ok" -> o.ok)),
      "spans" -> rec.spans.map(s => mutable.LinkedHashMap("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs))))

    println(json.writeValueAsString(mutable.LinkedHashMap("correct" -> correct,
      "attempted" -> math.max(attempted, 1), "failed" -> failed,
      "metrics" -> named(shown))))
    if (correct) 0 else 1
  }
}
