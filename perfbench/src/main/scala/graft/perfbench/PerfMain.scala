package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CkptGc, GraftSession, SparkEntry}
import graft.operators.CatalogOps
import graft.sources.{CsvTickIngest, GoldIngest, Tables}
import graft.streaming.StreamRegistry

/** One timed request: a registry key or a lake operation. Phase times
  * are `System.nanoTime`; the last phase is always `ckptgc.sweep`. */
final class Req(val id: Int, val key: String, val kind: String, val block: Int) {
  val phases = ArrayBuffer.empty[(String, Long, Long)]
  var t0 = 0L
  var tEnd = 0L
  var tDone = 0L
  var swept = 0
  var error: String = null
  def latency: Double = (tEnd - t0) / 1e9
}

/** The benchmark's JVM side: sets up one `GraftSession`, drives one
  * workload's closed loop for `--seconds`, and writes `result.json`
  * (plus `check/<key>` outputs for the oracle compare and, when
  * tracing, `trace.jsonl`) into `--out`. `perfbench/run.py` is the
  * entry point; it builds, generates inputs and checks outputs. */
object PerfMain {
  private val mb = 1024.0 * 1024.0

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val data = a("data")
    val out = a("out")
    val cpus = a("cpus")
    Files.createDirectories(Paths.get(out))

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark0 = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/spark-local")
      // Spark's status store keeps the last 1000 jobs, stages and SQL
      // executions by default, so the live heap would grow with the
      // number of requests a run fits in; a small cap that warm-up
      // already fills keeps heap_live_mb independent of it.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
      .getOrCreate()
    spark0.sparkContext.setLogLevel("ERROR")
    CkptGc.quietUnpersistWarnings()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val rec = new Recorder
    if (trace) spark0.sparkContext.addSparkListener(rec)

    // Set-up rounds: each builds the workload's fixtures in a fresh
    // session (SessionFrameCache and the table memo are per session),
    // so set-up time is reported as the median of several builds.
    val lake = a.get("lake")
    val rounds = (1 to 3).map { i =>
      val s = if (i == 1) spark0 else spark0.newSession()
      val fx = fixtures(workload, s, data, lake)
      (s, fx, fx.map(_._2).sum)
    }
    val spark = rounds.last._1
    // streaming listeners are per session: register on the one the
    // requests run in
    spark.streams.addListener(rec.streams)
    val medianRound = rounds.map(_._3).sorted.apply(rounds.size / 2)
    val fixtureS = rounds.map(_._2).transpose.map { xs =>
      xs.head._1 -> xs.map(_._2).sorted.apply(xs.size / 2)
    }

    val runner = new Runner(spark)
    val w = workload match {
      case "lake_ingest" => new LakeWorkload(runner, spark, data, lake.get, seed, out)
      case _ => new RegistryWorkload(runner, spark, data, a("pool").split(',').toSeq, seed,
        s"$out/check")
    }
    // Warm-up, then a full GC so the ContextCleaner drops warm-up
    // shuffles and broadcasts before the first timed block, not in it.
    val keysWarmS = timed { w.warm(); System.gc(); Thread.sleep(500) }
    val setupS = sessionS + medianRound + keysWarmS
    val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMs = { import scala.jdk.CollectionConverters._
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum }
    val cpu0 = os.getProcessCpuTime
    val gc0 = gcMs
    val host0 = Contention.sample()
    // Blocks run while the next one would end nearer to `seconds` than
    // the last one did. Each block records the cores other machines
    // (steal) and processes took while it ran.
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    val blocks = ArrayBuffer.empty[(Int, Double, Double)]
    def avgS = blocks.map(_._2).sum / math.max(1, blocks.size)
    var b = 0
    while (b == 0 || elapsed + avgS / 2 < seconds) {
      val c0 = Contention.sample()
      val t0 = System.nanoTime()
      runner.block = b
      w.block(b)
      val wall = (System.nanoTime() - t0) / 1e9
      blocks += ((b, wall, Contention.cores(c0, wall)))
      b += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val gcS = (gcMs - gc0) / 1e3
    val host = Contention.since(host0, loopS)

    // Live heap after forced full GCs, plus block-manager storage. The
    // pauses let the ContextCleaner release the shuffles and broadcasts
    // a collection made unreachable; collect until the heap settles.
    def usedMb = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / mb }
    var heapMb = usedMb
    var settled = false
    var gcs = 1
    while (!settled && gcs < 6) {
      Thread.sleep(400)
      val next = usedMb
      settled = math.abs(next - heapMb) < 1.0
      heapMb = next
      gcs += 1
    }
    val mem = spark.sparkContext.getExecutorMemoryStatus.values
    val storageMb = mem.map { case (max, rem) => max - rem }.sum / mb
    val storageMaxMb = mem.map(_._1).sum / mb
    val pinnedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / mb

    // The keys whose warm-up outputs the oracle check compares.
    val checked = w.checked
    Files.write(Paths.get(s"$out/oracle_sql.json"), checked.flatMap { k =>
      SparkEntry.oracleSql.get(k).map(v => s"${Json.q(k)}:${Json.q(v)}")
    }.mkString("{", ",", "}").getBytes(UTF_8))
    if (trace) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

    val reqs = runner.reqs.toSeq
    val j = new Json
    j.num("setup_s", setupS).num("session_s", sessionS)
      .num("setup_round_s", medianRound).num("keys_warm_s", keysWarmS).list("setup_rounds_s", rounds.map(_._3))
      .obj("fixtures_s", fixtureS.toSeq)
      .num("loop_s", loopS)
      .num("heap_live_mb", heapMb + storageMb).num("heap_mb", heapMb)
      .num("storage_mb", storageMb).num("storage_max_mb", storageMaxMb).num("ckptgc_pinned_mb", pinnedMb)
      .num("jvm_cpu_s", cpuS).num("jvm_gc_s", gcS).num("cpus", cpus.toDouble)
      .obj("contention", host).raw("checked", Json.strs(checked))
      .raw("blocks", blocks.map { case (i, wall, c) =>
        new Json().num("block", i).num("wall_s", wall).num("contention_cores", c).render
      }.mkString("[", ",", "]"))
      .raw("inputs", w.inputs.render)
      .raw("requests", reqs.map { r =>
        new Json().num("id", r.id).num("block", r.block).str("key", r.key).str("kind", r.kind)
          .num("latency_s", r.latency).num("with_sweep_s", (r.tDone - r.t0) / 1e9)
          .str("error", r.error).render
      }.mkString("[", ",", "]"))
    w.extra(j)
    locally {
      val bs = rec.batches.toArray(Array.empty[BatchRec]).toSeq
      j.num("stream_rows", bs.map(_.rows).sum)
        .num("stream_trigger_s", bs.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3)
        .num("stream_state_rows_max", if (bs.isEmpty) 0 else bs.map(_.stateRows).max)
    }
    if (trace) {
      val t = new Trace(rec, reqs, epochOffsetMs)
      t.write(s"$out/trace.jsonl")
      j.raw("layers", t.layers(cpuS, gcS, loopS, cpus.toInt).render)
        .raw("trace_check", t.check.render)
    }
    Files.write(Paths.get(s"$out/result.json"), j.render.getBytes(UTF_8))
    spark.stop()
  }

  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** The session-memoized fixtures the workload's requests use: the
    * base table frames (`Tables.table` memo) and the tick tape the
    * stream drives replay (no key of the tick set consumes the slot
    * chain, GD fit, pair census or IVF centroid fixtures). */
  def fixtures(workload: String, s: SparkSession, d: String,
               lake: Option[String]): Seq[(String, Double)] = {
    def fx(name: String)(f: => Unit) = name -> timed(f)
    workload match {
      case "tick_research" => Seq(
        fx("tables") {
          Seq("lineitem", "orders", "customer", "part", "supplier", "nation",
            "region", "events").foreach(t => Tables.table(s, d, t).head(1))
        },
        fx("stream_tape") { StreamRegistry.warmTape(s, d) })
      case "lake_ingest" => Seq(
        fx("lake_formats") {
          CsvTickIngest.read(s, s"${lake.get}/csv/*/*.csv").write.format("noop")
            .mode("overwrite").save()
          s.read.parquet(s"${lake.get}/gold/*").head(1)
        })
      case other => sys.error(s"unknown workload $other")
    }
  }
}

/** Sends requests and records their phases; sweeps CkptGc after each
  * one and runs its correctness check outside the clock. */
final class Runner(val spark: SparkSession) {
  val reqs = ArrayBuffer.empty[Req]
  var block = 0
  /** Set during warm-up: requests run without their output checks. */
  var warming = false
  private var nextId = 0
  private val sc = spark.sparkContext

  def send(key: String, kind: String, phases: Seq[(String, () => Unit)],
            check: () => Unit = () => ()): Req = {
    val r = new Req(nextId, key, kind, block)
    nextId += 1
    sc.setLocalProperty(Recorder.ReqProp, r.id.toString)
    val before = CkptGc.snapshot(spark)
    r.t0 = System.nanoTime()
    try phases.foreach { case (n, f) =>
      val a = System.nanoTime(); f(); r.phases += ((n, a, System.nanoTime()))
    } catch { case NonFatal(e) => r.error = s"$e".take(300) }
    r.tEnd = System.nanoTime()
    val mid = CkptGc.snapshot(spark)
    CkptGc.sweep(spark, before)
    r.tDone = System.nanoTime()
    r.phases += (("ckptgc.sweep", r.tEnd, r.tDone))
    r.swept = (mid -- CkptGc.snapshot(spark)).size
    sc.setLocalProperty(Recorder.ReqProp, null)
    if (r.error == null && !warming)
      try check() catch { case NonFatal(e) => r.error = s"check: $e".take(300) }
    if (r.error != null) System.err.println(s"[perfbench] $key failed: ${r.error}")
    reqs += r
    r
  }

  /** Writes each key's output to `dir/<key>` for the oracle check;
    * returns the keys whose output was written. */
  def writeChecks(keys: Seq[String], data: String, dir: String): Seq[String] =
    keys.flatMap { k =>
      val before = CkptGc.snapshot(spark)
      try {
        SparkEntry.queries(k)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/$k")
        Some(k)
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] check output $k failed: $e"); None
      } finally CkptGc.sweep(spark, before)
    }

  /** A registry key: build, plan, then the noop write as the action. */
  def registry(key: String, data: String): Req = {
    val fn = SparkEntry.queries(key)
    var df: DataFrame = null
    send(key, "registry", Seq(
      "registry.build" -> (() => df = fn(spark, data)),
      "catalyst.plan" -> (() => { df.queryExecution.executedPlan; () }),
      "exec.run" -> (() => df.write.format("noop").mode("overwrite").save())))
  }
}

trait Workload {
  /** Untimed set-up work done once before the first timed request. */
  def warm(): Unit = ()
  def block(b: Int): Unit
  def inputs: Json
  /** The keys the run sent whose outputs warm-up wrote under
    * `<out>/check` for the oracle check. */
  def checked: Seq[String]
  def extra(j: Json): Unit = ()
}

/** Closed loop over a fixed key pool: block b sends every key once, in
  * an order drawn from the seed. */
final class RegistryWorkload(r: Runner, spark: SparkSession, data: String,
                             pool: Seq[String], seed: Long, checkDir: String) extends Workload {
  private val sent = scala.collection.mutable.LinkedHashSet.empty[String]
  private var written = Seq.empty[String]
  pool.foreach(k => require(SparkEntry.queries.contains(k), s"unknown key $k"))

  /** Six untimed passes over the pool, so timed requests measure warm
    * plans (generated code compiled, hot paths JIT-compiled) rather than
    * first use: after three, JIT compiler threads still take over a core
    * during the timed blocks, and on a shared host that contention moves
    * latency from run to run. The first pass writes the outputs the
    * oracle check compares. */
  override def warm(): Unit = {
    written = r.writeChecks(pool, data, checkDir)
    (2 to 6).foreach(_ => pool.foreach { k =>
      val before = CkptGc.snapshot(spark)
      try SparkEntry.queries(k)(spark, data).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) => System.err.println(s"[perfbench] warm-up $k failed: $e") }
      finally CkptGc.sweep(spark, before)
    })
  }

  def block(b: Int): Unit = {
    val order = new scala.util.Random(seed * 1000003L + b).shuffle(pool)
    order.foreach { k =>
      r.registry(k, data)
      sent += k
    }
  }

  def inputs: Json = new Json().num("pool_size", pool.size)
    .num("distinct_keys", sent.size)
    .num("repeats", r.reqs.size - sent.size)
    .str("first_keys", r.reqs.take(8).map(_.key).mkString(","))

  def checked: Seq[String] = written.filter(sent)
}

/** CSV lake → gold parquet → catalog table maintenance → audit keys.
  * Each block is one pass over a fresh table; every step's read-back
  * is compared with the generator's manifest outside the clock. */
final class LakeWorkload(r: Runner, spark: SparkSession, data: String,
                         lake: String, seed: Long, out: String) extends Workload {
  import spark.implicits._
  private val man = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(s"$lake/manifest.properties"))
    try p.load(in) finally in.close()
    p
  }
  private def m(k: String): Long = man.getProperty(k).toLong
  private val rows = m("rows")
  private val symbols = Seq("BTCUSD", "US2000", "US30", "XAUUSD")
  private val years = Seq(2022, 2023, 2024)
  private val minPerSymbol = symbols.map(s => m(s"per_symbol.$s")).min
  private val audits = Seq("q_ingest_roundtrip", "q_orc_roundtrip",
    "q_jsonl_roundtrip", "q_compaction_audit", "q_schema_evolution",
    "q_orphan_audit", "q_storage_profile")
  private val sentAudits = scala.collection.mutable.LinkedHashSet.empty[String]
  private var written = Seq.empty[String]
  private val bpub = ArrayBuffer.empty[Double]
  private val filesLive = ArrayBuffer.empty[Long]
  private val ingestRate = ArrayBuffer.empty[Double]

  private def ticks = GoldIngest.readDir(spark, s"$lake/gold")

  /** One untimed pass over the whole sequence on a table of its own, so
    * the timed block runs warm: a cold block takes twice as long, and its
    * single samples of each operation spread by 20% from run to run. */
  override def warm(): Unit = {
    r.warming = true
    block(-1)
    r.warming = false
    r.reqs.clear(); bpub.clear(); filesLive.clear(); ingestRate.clear()
  }
  private def bidCents(df: DataFrame): (Long, Long) = {
    val row = df.agg(count(lit(1)), sum(round(col("bid") * 100).cast("long"))).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }
  private def expect(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new IllegalStateException(s"$what: got $got, want $want")

  def block(b: Int): Unit = {
    val rnd = new scala.util.Random(seed * 7919L + b)
    val tag = if (b < 0) "warm" else b.toString
    val gold = s"$out/lake_gold_$tag"
    val table = s"bench_gold_$tag"
    val days = ticks.select(to_date(col("ts")).as("d")).distinct().as[java.sql.Date]
      .collect().map(_.toString).sorted.toSeq
    val firstOfYear = days.groupBy(_.take(4)).values.map(_.min).toSet
    val rest = days.filterNot(firstOfYear)

    var raw: DataFrame = null
    val ing = r.send("csv_ingest", "ingest", Seq(
      "ingest.csv_read" -> (() => raw = CsvTickIngest.read(spark, s"$lake/csv/*/*.csv")),
      "ingest.gold_write" -> (() => CsvTickIngest.write(raw, gold))),
      () => expect("csv→gold rows/bid cents", bidCents(spark.read.parquet(gold)),
        (rows, m("bid_cents"))))
    if (ing.error == null) ingestRate += rows / ing.latency

    var g: DataFrame = null
    r.send("gold_read", "ingest", Seq(
      "ingest.gold_read" -> (() => g = GoldIngest.readDir(spark, s"$lake/gold")),
      "exec.run" -> (() => g.write.format("noop").mode("overwrite").save())),
      () => expect("gold read rows/bid cents", bidCents(g), (rows, m("bid_cents"))))

    def op(name: String)(f: => Unit)(check: => Unit): Req =
      r.send(name, "catalog", Seq(s"catalog.$name" -> (() => f)), () => check)
    def tbl = { spark.catalog.refreshTable(table); spark.table(table) }

    spark.sql(s"DROP TABLE IF EXISTS $table")
    op("createGoldTable") {
      CatalogOps.createGoldTable(ticks.filter(to_date(col("ts")).cast("string")
        .isin(firstOfYear.toSeq: _*)), table)
    } {}
    rest.foreach { d =>
      op("appendSnapshot") {
        CatalogOps.appendSnapshot(ticks.filter(to_date(col("ts")).cast("string") === d), table)
      } {}
    }
    val all = bidCents(tbl)
    expect("create+append rows/bid cents", all, (rows, m("bid_cents")))
    val fixYear = years(rnd.nextInt(years.size))
    op("overwritePartitions") {
      CatalogOps.overwritePartitions(ticks.filter(year(col("ts")) === fixYear)
        .withColumn("bid", col("bid") + 0.01), table)
    } {
      expect("overwrite bid cents", bidCents(tbl),
        (rows, m("bid_cents") + m(s"per_year.$fixYear")))
    }
    val nNew = 20
    val upd = {
      val ids = Seq.fill(50)(1L + rnd.nextInt(minPerSymbol.toInt))
      val sym = symbols(rnd.nextInt(symbols.size))
      val changed = tbl.filter(col("symbol") === sym && col("tick_id").isin(ids: _*))
        .withColumn("ask", col("ask") + 1.0)
      val fresh = (1 to nNew).map { i =>
        (1000000L + i, symbols(i % symbols.size),
          java.sql.Timestamp.valueOf(s"2024-03-0${1 + i % 2} 12:00:00"), 1.0, 1.5, 2024)
      }.toDF("tick_id", "symbol", "ts", "bid", "ask", "year")
      changed.select(fresh.columns.map(col): _*).unionByName(fresh).localCheckpoint(true)
    }
    val beforeUpsert = bidCents(tbl)
    op("upsertTable") {
      CatalogOps.upsertTable(spark, table, upd, Seq("symbol", "tick_id"), Seq("year"))
    } {
      expect("upsert rows/bid cents", bidCents(tbl),
        (beforeUpsert._1 + nNew, beforeUpsert._2 + nNew * 100L))
    }
    val beforeCompact = bidCents(tbl)
    op("compactPartitions") {
      CatalogOps.compactPartitions(spark, table, years)
    } { expect("compaction rows/bid cents", bidCents(tbl), beforeCompact) }
    val erase = Seq.fill(30)(1L + rnd.nextInt(minPerSymbol.toInt)).distinct
    var hits = Map.empty[Int, Long]
    op("eraseKeys") {
      hits = CatalogOps.eraseKeys(spark, table, "tick_id", erase)
    } {
      val want = erase.size.toLong * symbols.size
      expect("erased rows", hits.values.sum, want)
      expect("rows after erase", bidCents(tbl)._1, beforeCompact._1 - want)
    }
    // plant one orphan data file in an unregistered partition directory
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location
    val locPath = Paths.get(loc)
    val sample = Files.walk(locPath).filter(_.toString.endsWith(".parquet")).findFirst().get
    Files.createDirectories(locPath.resolve("year=1999"))
    Files.copy(sample, locPath.resolve("year=1999/part-orphan.parquet"))
    val live = bidCents(tbl)._1
    var orphans: Array[org.apache.spark.sql.Row] = Array.empty
    op("removeOrphanFiles") {
      orphans = CatalogOps.removeOrphanFiles(spark, table, delete = true).collect()
    } {
      expect("orphans deleted", orphans.count(_.getAs[Boolean]("deleted")), 1)
      expect("rows after orphan sweep", bidCents(tbl)._1, live)
    }
    var profile: Array[org.apache.spark.sql.Row] = Array.empty
    op("storageProfile") {
      profile = CatalogOps.storageProfile(spark, table).collect()
    } {
      expect("profiled bid values",
        profile.find(_.getAs[String]("column") == "bid").map(_.getAs[Long]("n_values")),
        Some(live))
    }
    // on-disk bytes after maintenance per byte of live rows
    val files = Files.walk(locPath).filter(p => Files.isRegularFile(p))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
    val disk = files.map(p => Files.size(p)).sum
    val userBytes = tbl.select(sum(lit(8L * 4 + 4) + length(col("symbol")))).head().getLong(0)
    bpub += disk.toDouble / userBytes
    filesLive += files.count(_.toString.endsWith(".parquet"))

    // warm-up writes the audit outputs the oracle check compares
    if (r.warming) written = r.writeChecks(rnd.shuffle(audits), data, s"$out/check")
    else rnd.shuffle(audits).foreach { k =>
      r.registry(k, data); sentAudits += k
    }
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Dirs.rm(Paths.get(gold))
  }

  def inputs: Json = new Json().num("pool_size", audits.size + 10)
    .num("distinct_keys", r.reqs.map(_.key).distinct.size)
    .num("repeats", r.reqs.size - r.reqs.map(_.key).distinct.size)
    .num("rows", rows).num("csv_bytes", m("csv_bytes"))
    .num("symbols", m("symbols")).num("days", m("days"))
    .num("dup_share", man.getProperty("dup_share").toDouble)
    .num("ooo_share", man.getProperty("ooo_share").toDouble)

  def checked: Seq[String] = written.filter(sentAudits)

  override def extra(j: Json): Unit = {
    j.num("bytes_per_user_byte", bpub.sum / math.max(1, bpub.size))
      .num("catalog_files_live", filesLive.sum.toDouble / math.max(1, filesLive.size))
      .num("ingest_rows_per_s", ingestRate.sum / math.max(1, ingestRate.size))
  }
}

object Dirs {
  def rm(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).toArray.map(_.asInstanceOf[java.nio.file.Path])
    all.sortBy(-_.getNameCount).foreach(Files.delete)
  }
}

/** CPU taken by other processes while the loop ran (`/proc/stat` busy
  * time minus this process's), CPU time the hypervisor gave to other
  * machines (steal), and the load average at its end. */
object Contention {
  private def read(f: String) =
    try new String(Files.readAllBytes(Paths.get(f)), UTF_8) catch { case NonFatal(_) => "" }
  private def cpuTicks: Array[Long] = read("/proc/stat").linesIterator
    .find(_.startsWith("cpu ")).map(_.split("\\s+").drop(1).map(_.toLong))
    .getOrElse(Array.fill(8)(0L))
  /** (busy ticks of all processes, steal ticks): busy is user, nice,
    * system, irq and softirq; steal is time the hypervisor ran others. */
  private def hostTicks: (Long, Long) = {
    val v = cpuTicks
    (Seq(0, 1, 2, 5, 6).filter(_ < v.length).map(v(_)).sum, if (v.length > 7) v(7) else 0L)
  }
  private def selfTicks: Long = {
    val s = read("/proc/self/stat")
    val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
    if (f.length > 12) f(11).toLong + f(12).toLong else 0L
  }
  def sample(): (Long, Long, Long) = { val (b, st) = hostTicks; (b, st, selfTicks) }
  /** Cores other processes and machines took since `s0`. */
  def cores(s0: (Long, Long, Long), wallS: Double): Double = {
    val (b1, st1, p1) = sample()
    (math.max(0L, (b1 - s0._1) - (p1 - s0._3)) + (st1 - s0._2)) / 100.0 / math.max(wallS, 1e-9)
  }
  def since(s0: (Long, Long, Long), wallS: Double): Seq[(String, Double)] = {
    val (b1, st1, p1) = sample()
    val other = math.max(0L, (b1 - s0._1) - (p1 - s0._3)) / 100.0
    val steal = (st1 - s0._2) / 100.0
    val load = read("/proc/loadavg").split(' ').take(3).map(_.toDouble)
    Seq("other_cpu_s" -> other, "other_cpu_per_wall" -> other / math.max(wallS, 1e-9),
      "steal_s" -> steal, "steal_per_wall" -> steal / math.max(wallS, 1e-9),
      "loadavg_1m" -> load.headOption.getOrElse(-1.0),
      "loadavg_5m" -> load.lift(1).getOrElse(-1.0))
  }
}

/** Minimal JSON object writer (the benchmark's records are flat). */
final class Json {
  private val parts = ArrayBuffer.empty[String]
  def num(k: String, v: Double): Json = {
    parts += s"${Json.q(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}"; this
  }
  def num(k: String, v: Long): Json = { parts += s"${Json.q(k)}:$v"; this }
  def num(k: String, v: Int): Json = num(k, v.toLong)
  def str(k: String, v: String): Json = {
    parts += s"${Json.q(k)}:${if (v == null) "null" else Json.q(v)}"; this
  }
  def bool(k: String, v: Boolean): Json = { parts += s"${Json.q(k)}:$v"; this }
  def list(k: String, v: Seq[Double]): Json = { parts += s"${Json.q(k)}:${v.mkString("[", ",", "]")}"; this }
  def obj(k: String, v: Seq[(String, Double)]): Json =
    raw(k, v.foldLeft(new Json)((j, kv) => j.num(kv._1, kv._2)).render)
  def raw(k: String, v: String): Json = { parts += s"${Json.q(k)}:$v"; this }
  def render: String = parts.mkString("{", ",", "}")
}

object Json {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def strs(v: Seq[String]): String = v.map(q).mkString("[", ",", "]")
}
