package graft.bench

import java.io.{BufferedReader, File, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.{DcafsXml, LineSinks, LineSources, PathCompiler}
import graft.streaming.{RtVals, ValUpdate}

/** Engine side of the ingest benchmark (`perfbench/run.py` is the load
  * generator and the only caller). It drives a generated settings.xml
  * through the engine's public layers and times them from outside:
  *
  *   source (TcpLineSource | LineSources.fileReplay)
  *     -> path (DcafsXml.parseSettings + PathCompiler.compile)
  *     -> four streaming queries: LineSinks.jdbc (Derby rows),
  *        RtVals.snapshots and RtVals.alerts (memory sinks),
  *        LineSinks.rollingFiles (raw-line log)
  *
  * Micro-batch phases and state-store figures come from a
  * StreamingQueryListener; nothing inside the engine is instrumented.
  *
  * Each run makes `rounds` set-ups on fresh tables, checkpoints and
  * directories; set-up time is parse + compile + start until every query
  * has committed its first batch that carried data. On `steady` the last
  * set-up round is the measured one; on `backlog` the set-up rounds
  * replay a small warm-up directory and a separate round drains the
  * backlog with Trigger.AvailableNow.
  *
  * Scheduling: `steady` runs the four queries in one FIFO pool, as
  * graft.GraftApp does. On `backlog` every query drains 100k-line batches
  * at once; under FIFO the query whose job reaches the scheduler first
  * takes the cores, so Derby latency would follow that race. There each
  * query has its own FAIR pool, and the jdbc pool's minimum share is every
  * core: Derby inserts run first, as a deployment that waits on its
  * database would schedule them.
  *
  * Talks to run.py over stdin/stdout: lines it prints that start with
  * `@@` are protocol messages, lines it reads are the generator's replies.
  */
object IngestBench {

  private val Queries = Seq("jdbc", "rtvals", "alerts", "files")

  final case class Conf(
      workload: String, work: String, settings: String, trace: Boolean,
      rounds: Int, filesPerTrigger: Int, replay: String, warm: String,
      expect: String, high: Double, low: Double)

  /** A finished micro-batch as seen by the listener. */
  final case class Batch(p: StreamingQueryProgress) {
    val startMs: Long = java.time.Instant.parse(p.timestamp).toEpochMilli
    def phase(name: String): Long =
      Option(p.durationMs.get(name)).map(_.longValue).getOrElse(0L)
    val endMs: Long = startMs + phase("triggerExecution")
    private def offset(s: String): Long =
      if (s == null) 0L
      else "\\d+".r.findFirstIn(s).map(_.toLong).getOrElse(0L)
    def endOffset: Long = offset(p.sources.head.endOffset)
  }

  /** Collects the progress of every micro-batch that ran (idle triggers,
    * which run no addBatch, are skipped), per query name. */
  private class Progress extends StreamingQueryListener {
    val batches = new ConcurrentHashMap[String, java.util.List[Batch]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.name != null && e.progress.durationMs.containsKey("addBatch"))
        batches.computeIfAbsent(e.progress.name,
          _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Batch]()))
          .add(Batch(e.progress))
    def of(name: String): Seq[Batch] =
      Option(batches.get(name)).map(l => l.synchronized(l.asScala.toList))
        .getOrElse(Nil).sortBy(_.p.batchId)
  }

  /** One set of the four queries over fresh sinks. */
  final case class Round(k: Int, startMs: Long, compileMs: Double,
      queries: Map[String, StreamingQuery], table: String, filesDir: String) {
    def name(q: String): String = s"${q}_$k"
  }

  // ---- tracing: spans kept in memory, written out at the end ----

  final case class Span(id: Int, parent: Int, name: String, layer: String,
      startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty)

  @volatile private var tracing = false
  private val spans = ArrayBuffer.empty[Span]
  private def span(parent: Int, name: String, layer: String, s: Double,
      e: Double, attrs: Map[String, Any] = Map.empty): Int =
    if (!tracing) 0
    else spans.synchronized {
      spans += Span(spans.size + 1, parent, name, layer, s, e, attrs)
      spans.size
    }
  private def closeSpan(id: Int): Unit = if (id > 0) spans.synchronized {
    spans(id - 1) = spans(id - 1).copy(endMs = System.currentTimeMillis().toDouble)
  }
  private def timed[T](parent: Int, name: String, layer: String)(f: => T): T = {
    val s = System.currentTimeMillis()
    val r = f
    span(parent, name, layer, s, System.currentTimeMillis())
    r
  }

  // ---- protocol ----

  private val stdin = new BufferedReader(new InputStreamReader(System.in, UTF_8))
  private def say(tag: String, body: String = ""): Unit = {
    println(s"@@$tag $body".trim); Console.out.flush()
  }
  private def expect(tag: String): Map[String, String] = {
    val line = stdin.readLine()
    require(line != null && line.startsWith(tag + " "),
      s"expected '$tag' from the generator, got '$line'")
    line.substring(tag.length + 1).trim.split(" ").map { kv =>
      val i = kv.indexOf('='); kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val conf = Conf(a("workload"), a("work"), a("settings"), a("trace") == "1",
      a("rounds").toInt, a.getOrElse("files-per-trigger", "1").toInt,
      a.getOrElse("replay", ""), a.getOrElse("warm", ""), a("expect"),
      a("high").toDouble, a("low").toDouble)
    tracing = conf.trace
    val t0 = System.nanoTime()
    val builder = SparkSession.builder()
      .appName("perfbench")
      .master("local[*]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
    if (conf.workload == "backlog") {
      val pools = Paths.get(conf.work, "pools.xml")
      Files.write(pools, ("<allocations><pool name=\"jdbc\"><minShare>" +
        Runtime.getRuntime.availableProcessors + "</minShare></pool></allocations>")
        .getBytes(UTF_8))
      builder.config("spark.scheduler.mode", "FAIR")
        .config("spark.scheduler.allocation.file", pools.toString)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val progress = new Progress
    spark.streams.addListener(progress)
    val out =
      try new Run(spark, conf, progress, sessionS).run()
      finally {
        spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
      }
    say("record", Json.obj(out))
    spark.stop()
  }

  private class Run(spark: SparkSession, c: Conf, progress: Progress, sessionS: Double) {
    import spark.implicits._

    private val url = s"jdbc:derby:${new File(c.work, "derby").getAbsolutePath};create=true"
    private val steady = c.workload == "steady"
    private val settingsXml = new String(Files.readAllBytes(Paths.get(c.settings)), UTF_8)

    private def createTable(name: String): Unit = {
      val conn = java.sql.DriverManager.getConnection(url)
      try conn.createStatement().execute(
        s"CREATE TABLE $name (LINE VARCHAR(256), SID VARCHAR(16), SEQ BIGINT, " +
          "EMIT_US BIGINT, TAG VARCHAR(32), READING DOUBLE, QFLAG BIGINT)")
      finally conn.close()
    }

    private def startRound(k: Int, root: Int): Round = {
      val startMs = System.currentTimeMillis()
      val settings = timed(root, "parseSettings", "path")(DcafsXml.parseSettings(settingsXml))
      val src =
        if (steady) LineSources.fromSpec(spark, settings.streams.head)
        else LineSources.fileReplay(spark, if (k > c.rounds) c.replay else c.warm,
          c.filesPerTrigger)
      val cs = System.nanoTime()
      val parsed = PathCompiler.compile(settings.paths.head, src)
      val compileMs = (System.nanoTime() - cs) / 1e6
      span(root, "PathCompiler.compile", "path", startMs, startMs + compileMs)
      val table = s"ROWS_$k"
      createTable(table)
      val filesDir = new File(c.work, s"log_$k").getAbsolutePath
      def ck(q: String) = new File(c.work, s"ck_${q}_$k").getAbsolutePath
      def go(q: String, w: org.apache.spark.sql.streaming.DataStreamWriter[_]) = {
        val t = if (steady) w else w.trigger(Trigger.AvailableNow())
        // a query's jobs run in the pool of the thread that started it
        // (ignored under FIFO)
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", q)
        q -> timed(root, s"start.$q", "microbatch") {
          t.queryName(s"${q}_$k").option("checkpointLocation", ck(q)).start()
        }
      }
      val updates = parsed.select($"tag".as("key"), $"reading".as("value"),
        $"seq".as("ts")).as[ValUpdate]
      val qs = try Map(
        go("jdbc", LineSinks.jdbc(parsed, url, table)),
        go("rtvals", RtVals.snapshots(updates).writeStream.format("memory")
          .outputMode("update")),
        go("alerts", RtVals.alerts(updates, c.high, c.low).writeStream
          .format("memory").outputMode("append")),
        go("files", LineSinks.rollingFiles(src, filesDir)))
      finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
      Round(k, startMs, compileMs, qs, table, filesDir)
    }

    /** Wall time until every query committed its first batch with data
      * (a new TCP query first commits an empty batch 0). */
    private def awaitFirstCommit(r: Round): Double = {
      val deadline = System.currentTimeMillis() + 120000
      def firsts = Queries.map(q => progress.of(r.name(q)).find(_.p.numInputRows > 0))
      while (firsts.exists(_.isEmpty)) {
        r.queries.values.foreach(q => q.exception.foreach(e => throw e))
        require(System.currentTimeMillis() < deadline,
          s"round ${r.k}: no committed batch within 120 s")
        Thread.sleep(2)
      }
      (firsts.flatten.map(_.endMs).max - r.startMs) / 1000.0
    }

    /** Stops the four queries concurrently: each stop waits for its query's
      * in-flight batch to wind down. */
    private def stopRound(r: Round): Unit = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.traverse(r.queries.values.toSeq)(q => Future(q.stop())), 60.seconds)
    }

    /** The measured round's Derby rows and raw-line log, read once. */
    private var derby: DataFrame = _
    private var log: DataFrame = _
    private def readSinks(r: Round): Unit = {
      derby = spark.read.jdbc(url, r.table, new java.util.Properties())
        .select("SID", "SEQ", "EMIT_US", "READING", "QFLAG").cache()
      log = spark.read.option("header", "true").csv(r.filesDir).select("line", "ts").cache()
      timed(0, "read.derby", "bench")(derby.count())
      timed(0, "read.log", "bench")(log.count())
    }

    def run(): Map[String, Any] = {
      val setups = ArrayBuffer.empty[Double]
      val compiles = ArrayBuffer.empty[Double]
      var measured: Round = null
      val nSetup = if (steady) c.rounds else c.rounds + 1
      for (k <- 1 to nSetup) {
        val root = span(0, s"round.$k", "bench", System.currentTimeMillis(), 0)
        val r = startRound(k, root)
        compiles += r.compileMs
        if (k <= c.rounds) setups += awaitFirstCommit(r)
        closeSpan(root)
        if (k < nSetup) {
          if (steady) { stopRound(r); say("round_end") }
          else r.queries.values.foreach(_.awaitTermination())
        } else measured = r
      }
      val r = measured
      val window: Map[String, String] =
        if (steady) {
          say("ready", System.currentTimeMillis().toString)
          expect("done")
        } else Map("lines" -> Files.lines(Paths.get(c.expect, "count")).iterator.next())
      val nLines = window("lines").toLong
      val drainedOk = timed(0, "drain", "bench") {
        if (steady) awaitOffsets(r, nLines)
        else {
          r.queries.values.foreach(_.awaitTermination(120000))
          r.queries.values.forall(!_.isActive)
        }
      }
      org.apache.spark.sql.graft.ListenerBridge.drainListenerBus(spark.sparkContext)
      System.gc(); System.gc()
      val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
      if (steady) stopRound(r)
      val batches = Queries.map(q => q -> progress.of(r.name(q))).toMap
      if (c.trace) batches.foreach { case (q, bs) => bs.foreach(traceBatch(q, _)) }
      // the checks are small batch jobs: a handful of shuffle partitions
      // (the stateful queries keep the 32 their checkpoints recorded)
      spark.conf.set("spark.sql.shuffle.partitions", 4)
      val checks = timed(0, "verify", "bench") { readSinks(r); verify(r, drainedOk) }
      val (lat, latAll, rate, lagSrc) = latency(batches, window, nLines)
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      m("setup_s") = median(setups.toSeq)
      m("ingest_p50_ms") = pct(lat, 50)
      m("ingest_p99_ms") = pct(lat, 99)
      m("ingest_lines_per_s") = rate
      m("live_heap_mb") = heapMb
      m("latency_samples") = lat.length
      m("sinks.all_p50_ms") = pct(latAll, 50)
      m("sinks.all_p99_ms") = pct(latAll, 99)
      m("session_s") = sessionS
      m("path.compile_ms") = median(compiles.toSeq)
      layerMetrics(r, batches, checks, m)
      if (c.trace) {
        m("sources.lag_ms") = lagSrc
        m("path.busy_ms_per_mline") = pathBusy()
        selfTimes(m)
        writeTrace()
      }
      Map("metrics" -> m.toMap, "checks" -> checks, "setups_s" -> setups.toSeq,
        "jvm" -> Map("java" -> System.getProperty("java.version"), "spark" -> spark.version))
    }

    /** Steady: wait until every query has committed source offset n. */
    private def awaitOffsets(r: Round, n: Long): Boolean = {
      val deadline = System.currentTimeMillis() + 90000
      def done = Queries.forall(q =>
        progress.of(r.name(q)).lastOption.exists(_.endOffset >= n))
      while (!done && System.currentTimeMillis() < deadline) {
        r.queries.values.foreach(q => q.exception.foreach(e => throw e))
        Thread.sleep(5)
      }
      done
    }

    /** Emit-to-commit latency samples, to Derby and to every sink; lines
      * per second committed to every sink; median source lag.
      *
      * Steady: a line's commit time in a query is the end of the batch
      * whose source offset range holds the line's index (TCP offsets count
      * lines from the start of the round). Backlog: every line is due when
      * the replay starts, and the k-th line a query reads is committed at
      * the end of the batch whose cumulative row count passes k (each
      * query reads the same files in the same batches).
      */
    private def latency(batches: Map[String, Seq[Batch]],
        w: Map[String, String], n: Long): (Array[Double], Array[Double], Double, Double) = {
      def at(q: String, keys: Array[Long], k: Long): Double = {
        val i = java.util.Arrays.binarySearch(keys, k + 1) match {
          case j if j >= 0 => j
          case j => -j - 1
        }
        val bs = batches(q)
        if (i < bs.length) bs(i).endMs.toDouble else Double.PositiveInfinity
      }
      if (steady) {
        val (lo, hi) = (w("first").toLong, w("last").toLong)
        val ends = Queries.map(q => q -> batches(q).map(_.endOffset).toArray).toMap
        def commit(q: String, seq: Long) = at(q, ends(q), seq)
        val rows = derby.where($"SEQ".between(lo, hi)).select($"SEQ", $"EMIT_US")
          .as[(Long, Long)].collect()
        val toDerby = rows.map { case (seq, us) => commit("jdbc", seq) - us / 1000.0 }.sorted
        val toAll = rows.map { case (seq, us) =>
          Queries.map(commit(_, seq)).max - us / 1000.0 }.sorted
        val span = Queries.map(commit(_, hi)).max - w("first_us").toLong / 1000.0
        (toDerby, toAll, (hi - lo + 1) / (span / 1000.0),
          if (c.trace) sourceLag(lo, hi, 0L) else 0.0)
      } else {
        val t0 = Queries.flatMap(q => batches(q).headOption.map(_.startMs)).min
        val cums = Queries.map(q =>
          q -> batches(q).scanLeft(0L)(_ + _.p.numInputRows).tail.toArray).toMap
        def commit(q: String, k: Long) = at(q, cums(q), k)
        val lines = cums("jdbc").lastOption.getOrElse(0L)
        val toDerby = Array.tabulate(lines.toInt)(k => commit("jdbc", k) - t0)
        val toAll = Array.tabulate(lines.toInt)(k => Queries.map(commit(_, k)).max - t0)
        (toDerby, toAll, lines / (toAll.lastOption.getOrElse(0.0) / 1000.0),
          if (c.trace) sourceLag(0, n, t0) else 0.0)
      }
    }

    /** Median of (source ts - emit time) over the raw-line log; emit time
      * is the line's own stamp, or `dueMs` for recorded lines. */
    private def sourceLag(lo: Long, hi: Long, dueMs: Long): Double = {
      val f = split($"line", ",")
      val emitMs = if (dueMs > 0) lit(dueMs.toDouble) else f.getItem(3).cast("double") / 1000.0
      log.where(f.getItem(2).cast("long").between(lo, hi))
        .select((unix_micros(to_timestamp($"ts")) / 1000.0 - emitMs).as("lag"))
        .stat.approxQuantile("lag", Array(0.5), 0.001).head
    }

    /** Correctness checks against the generator's expectations; one
      * attempted item per expected Derby row, log line and rtvals key. */
    private def verify(r: Round, drained: Boolean): Map[String, Any] = {
      def csv(name: String, schema: String) = spark.read.option("header", "true")
        .schema(schema).csv(new File(c.expect, name).getAbsolutePath)
      def near(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        abs(x - y) <= greatest(lit(1.0), abs(y)) * 1e-9

      val (dups, bad, nRows) = timed(0, "check.rows", "bench") {
        val eRows = csv("rows.csv", "sid STRING, seq BIGINT, reading DOUBLE")
        val got = derby.groupBy("SID", "SEQ").agg(count(lit(1)).as("n"),
          first("READING").as("READING"), first("QFLAG").as("QFLAG"))
        eRows.join(got, eRows("sid") === got("SID") && eRows("seq") === got("SEQ"),
            "full_outer")
          .agg(
            coalesce(sum(greatest($"n" - 1, lit(0L))), lit(0L)),
            count(when(eRows("seq").isNull || got("SEQ").isNull ||
              !near(got("READING"), eRows("reading")) || got("QFLAG") =!= 1, 1)),
            count(eRows("seq")))
          .as[(Long, Long, Long)].head()
      }

      val (missingLines, extraLines, nLines) = timed(0, "check.lines", "bench") {
        val linesDir = if (steady) new File(c.expect, "lines").getAbsolutePath else c.replay
        spark.read.text(linesDir).groupBy($"value".as("line")).agg(count(lit(1)).as("e"))
          .join(log.groupBy("line").agg(count(lit(1)).as("l")), Seq("line"), "full_outer")
          .select(coalesce($"e", lit(0L)).as("e"), coalesce($"l", lit(0L)).as("l"))
          .agg(sum(greatest($"e" - $"l", lit(0L))), sum(greatest($"l" - $"e", lit(0L))),
            sum($"e"))
          .as[(Long, Long, Long)].head()
      }

      val (badKeys, nKeys) = timed(0, "check.keys", "bench") {
        val eVals = csv("rtvals.csv", "key STRING, last DOUBLE, count BIGINT, " +
          "min DOUBLE, max DOUBLE, mean DOUBLE, rising BIGINT, cleared BIGINT")
        val snap = spark.table(r.name("rtvals")).groupBy("key")
          .agg(max_by(struct($"last", $"min", $"max", $"count", $"avg"), $"count").as("s"))
          .select($"key".as("skey"), $"s.*")
        val alerts = spark.table(r.name("alerts")).groupBy($"key".as("akey"))
          .agg(count(when($"kind" === "rising", 1)).as("arising"),
            count(when($"kind" === "cleared", 1)).as("acleared"))
        val ok = $"key".isNotNull && $"skey".isNotNull &&
          snap("count") === eVals("count") &&
          near(snap("last"), eVals("last")) && near(snap("min"), eVals("min")) &&
          near(snap("max"), eVals("max")) && near($"avg", $"mean") &&
          coalesce($"arising", lit(0L)) === $"rising" &&
          coalesce($"acleared", lit(0L)) === $"cleared"
        eVals.join(snap, $"key" === $"skey", "full_outer")
          .join(alerts, coalesce($"key", $"skey") === $"akey", "left_outer")
          .agg(count(when(!ok, 1)), count($"key"))
          .as[(Long, Long)].head()
      }

      val attempted = nRows + nLines + nKeys
      val failed = dups + bad + missingLines + extraLines + badKeys +
        (if (drained) 0 else 1)
      Map("attempted" -> attempted, "failed" -> failed,
        "rows_expected" -> nRows, "rows_bad" -> bad, "rows_dup" -> dups,
        "lines_expected" -> nLines, "lines_missing" -> missingLines,
        "lines_extra" -> extraLines, "keys_expected" -> nKeys, "keys_bad" -> badKeys,
        "drained" -> drained)
    }

    private def layerMetrics(r: Round, batches: Map[String, Seq[Batch]],
        checks: Map[String, Any], m: scala.collection.mutable.Map[String, Any]): Unit = {
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
      Queries.foreach { q =>
        val bs = batches(q)
        val pre = s"microbatch.$q"
        m(s"$pre.count") = bs.length
        m(s"$pre.rows_mean") = mean(bs.map(_.p.numInputRows.toDouble))
        val trig = bs.map(_.phase("triggerExecution").toDouble).sorted.toArray
        m(s"$pre.trigger_p50_ms") = pct(trig, 50)
        m(s"$pre.trigger_p99_ms") = pct(trig, 99)
        m(s"$pre.planning_ms") = mean(bs.map(_.phase("queryPlanning").toDouble))
        m(s"$pre.wal_ms") = mean(bs.map(_.phase("walCommit").toDouble))
        m(s"$pre.commit_ms") = mean(bs.map(_.phase("commitOffsets").toDouble))
        m(s"$pre.source_ms") =
          mean(bs.map(b => (b.phase("latestOffset") + b.phase("getBatch")).toDouble))
        m(s"$pre.add_ms") = mean(bs.map(_.phase("addBatch").toDouble))
      }
      val rowsIn = batches("jdbc").map(_.p.numInputRows).sum
      val rowsOut = derby.count()
      m("path.rows_in") = rowsIn
      m("path.rows_out") = rowsOut
      m("path.reject_frac") = if (rowsIn == 0) 0.0 else 1.0 - rowsOut.toDouble / rowsIn
      for ((q, pre) <- Seq("rtvals" -> "rtvals", "alerts" -> "rtvals.alerts")) {
        val ops = batches(q).map(_.p.stateOperators.head)
        m(s"$pre.state_rows") = ops.lastOption.map(_.numRowsTotal).getOrElse(0L)
        m(s"$pre.state_bytes") = ops.lastOption.map(_.memoryUsedBytes).getOrElse(0L)
        m(s"$pre.update_ms") = mean(ops.map(_.allUpdatesTimeMs.toDouble))
        m(s"$pre.commit_ms") = mean(ops.map(_.commitTimeMs.toDouble))
      }
      m("sinks.jdbc.add_ms") = m("microbatch.jdbc.add_ms")
      m("sinks.files.add_ms") = m("microbatch.files.add_ms")
      m("sinks.files.bytes") = Files.walk(Paths.get(r.filesDir)).iterator.asScala
        .filter(p => p.toString.endsWith(".csv")).map(Files.size).sum
      m("check.failed_frac") = checks("failed").asInstanceOf[Long].toDouble /
        math.max(1L, checks("attempted").asInstanceOf[Long])
    }

    /** Traced runs: the compiled path over the run's raw lines as a static
      * DataFrame written to `noop`, median of three, per million lines. */
    private def pathBusy(): Double = {
      val dir = if (steady) new File(c.expect, "lines").getAbsolutePath else c.replay
      val spec = DcafsXml.parseSettings(settingsXml).paths.head
      val lines = spark.read.text(dir)
        .select($"value".as("line"), lit("static").as("origin"), current_timestamp().as("ts"))
        .cache()
      val n = lines.count()
      val times = (1 to 3).map { _ =>
        val s = System.nanoTime()
        timed(0, "path.static", "path") {
          PathCompiler.compile(spec, lines).write.format("noop").mode("overwrite").save()
        }
        (System.nanoTime() - s) / 1e6
      }
      lines.unpersist()
      median(times) / (n / 1e6)
    }

    /** One span per micro-batch, with its durationMs phases as children
      * laid end to end in the order MicroBatchExecution runs them. */
    private def traceBatch(q: String, b: Batch): Unit = {
      val layerOf = Map("latestOffset" -> "sources", "getBatch" -> "sources",
        "walCommit" -> "microbatch", "queryPlanning" -> "microbatch",
        "addBatch" -> (if (q == "rtvals" || q == "alerts") "rtvals" else "sinks"),
        "commitOffsets" -> "microbatch")
      val id = span(0, s"batch.$q", "microbatch", b.startMs.toDouble, b.endMs.toDouble,
        Map("batchId" -> b.p.batchId, "rows" -> b.p.numInputRows))
      var t = b.startMs.toDouble
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
        "commitOffsets").foreach { ph =>
        val d = b.phase(ph).toDouble
        span(id, ph, layerOf(ph), t, t + d)
        t += d
      }
    }

    /** Self time per layer: each span's duration minus its children's. */
    private def selfTimes(m: scala.collection.mutable.Map[String, Any]): Unit = {
      val all = spans.synchronized(spans.toList)
      val childSum = all.filter(_.parent > 0).groupBy(_.parent)
        .map { case (p, cs) => p -> cs.map(s => s.endMs - s.startMs).sum }
      val self = all.filter(_.endMs > 0).groupBy(_.layer).map { case (layer, ss) =>
        layer -> ss.map(s => (s.endMs - s.startMs) - childSum.getOrElse(s.id, 0.0)).sum
      }
      Seq("sources", "path", "microbatch", "rtvals", "sinks").foreach { l =>
        m(s"self_ms.$l") = self.getOrElse(l, 0.0)
      }
    }

    private def writeTrace(): Unit = {
      val all = spans.synchronized(spans.toList)
      val body = all.map(s => Json.obj(Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs) ++ s.attrs)).mkString("[\n", ",\n", "\n]\n")
      Files.write(Paths.get(c.work, "trace.json"), body.getBytes(UTF_8))
    }
  }

  def median(xs: Seq[Double]): Double = pct(xs.sorted.toArray, 50)

  /** Nearest-rank percentile of a sorted array. */
  def pct(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1,
      math.max(0, math.ceil(p / 100.0 * sorted.length).toInt - 1)))

  /** Minimal JSON writer for the record (numbers, strings, maps, seqs). */
  object Json {
    def obj(m: Map[String, Any]): String =
      m.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
    def value(v: Any): String = v match {
      case null => "null"
      case s: String => str(s)
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Number => n.toString
      case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
      case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
      case other => str(other.toString)
    }
  }
}
