package org.apache.spark.graftbench

import java.io.PrintWriter
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{SparkEntry, Tables}
import graft.operators.{Dedup, Panels, PanelsJson, Similarity}
import graft.sources.Snapshots

/** The benchmark's JVM side: runs one workload's set-ups and timed
  * rounds against graft's public functions, and records every operation
  * (latency, outcome, collected rows) to `<out>/ops.jsonl` plus a
  * `<out>/summary.json` for `run.py` to check and reduce. It checks
  * nothing itself; answers are checked outside the engine.
  *
  * Usage: Main <job.json>
  */
object Main {
  private implicit val formats: Formats = DefaultFormats

  final case class Job(j: JValue) {
    def str(k: String): String = (j \ k).extract[String]
    def int(k: String): Int = (j \ k).extract[Int]
    def arr(k: String): List[JValue] = (j \ k) match {
      case JArray(xs) => xs
      case _ => Nil
    }
  }

  // ---------------------------------------------------------------- JSON out

  def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private val TsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** One collected value as JSON: exact decimals as plain numbers,
    * doubles as their shortest round-trip text, times in UTC.
    */
  def jv(v: Any): String = v match {
    case null => "null"
    case s: String => jstr(s)
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) jstr(d.toString) else java.lang.Double.toString(d)
    case f: Float => jv(f.toDouble)
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case t: java.sql.Timestamp => jstr(t.toLocalDateTime.format(TsFmt))
    case t: java.time.Instant =>
      jstr(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).format(TsFmt))
    case t: java.time.LocalDateTime => jstr(t.format(TsFmt))
    case d: java.sql.Date => jstr(d.toString)
    case d: java.time.LocalDate => jstr(d.toString)
    case r: Row => r.toSeq.map(jv).mkString("[", ",", "]")
    case xs: scala.collection.Seq[_] => xs.map(jv).mkString("[", ",", "]")
    case a: Array[Byte] => jstr(a.map("%02x".format(_)).mkString)
    case other => jstr(other.toString)
  }

  def num(d: Double): String = java.lang.Double.toString(d)

  // ---------------------------------------------------------------- state

  private var job: Job = _
  private var spark: SparkSession = _
  private var spans: Spans = _
  private var engine: Option[EngineTrace] = None
  private var opsOut: PrintWriter = _
  private val opDeltas = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private val opWindows = mutable.ArrayBuffer[(Long, Long)]()
  private var readScanRows = 0.0
  private var readResultRows = 0L
  private val firstHash = mutable.Map[String, String]()
  private var injectedWrong = false
  private var measuring = false

  /** A timed operation's outcome: the collected columns and rows of a
    * read, or nothing for a write (its output is on disk).
    */
  final case class Res(cols: Seq[String], rows: Array[Row])
  private val Wrote = Res(Nil, Array.empty)

  private def collectAll(df: DataFrame): Res = Res(df.columns.toSeq, df.collect())

  /** Time one operation. `read` ops count towards the scan-rows-per-
    * result-row ratio; `keep` records every collected row for checking
    * (otherwise only a hash, compared with the first run of the same
    * `key`).
    */
  def op(id: String, kind: String, layer: String, key: String,
      read: Boolean, keep: Boolean)(body: => Res): Unit = {
    val before = engine.map(_.snapshot())
    val w0 = System.currentTimeMillis()
    val c0 = cpuNanos()
    val t0 = System.nanoTime()
    val res = try Right(spans(layer)(body)) catch { case e: Throwable => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuNanos() - c0) / 1e9
    val w1 = System.currentTimeMillis()
    for (b <- before; a <- engine.map(_.snapshot())) {
      a.foreach { case (k, v) => opDeltas(k) += v - b.getOrElse(k, 0.0) }
      opWindows += ((w0, w1))
      if (read) readScanRows += a.getOrElse("scan_rows", 0.0) - b.getOrElse("scan_rows", 0.0)
    }
    val line = new StringBuilder(
      s"""{"id":${jstr(id)},"kind":${jstr(kind)},"layer":${jstr(layer)},"key":${jstr(key)},"sec":${num(sec)},"cpu":${num(cpu)}""")
    res match {
      case Left(e) =>
        System.err.println(s"[graftbench] $id failed: $e")
        line.append(s""","ok":false,"err":${jstr(String.valueOf(e.getMessage).take(500))}""")
      case Right(r) =>
        if (read) readResultRows += r.rows.length
        var rows = r.rows.map(jv)
        if (measuring && job.str("inject").contains("wrong") && !injectedWrong && keep &&
            rows.length >= 2) {
          // a deliberately wrong answer: the last row lost, the first twice
          rows = rows.updated(rows.length - 1, rows(0))
          injectedWrong = true
        }
        val h = Integer.toHexString(rows.sorted.toSeq.hashCode)
        val first = !firstHash.contains(key)
        val same = firstHash.getOrElseUpdate(key, h) == h
        line.append(s""","ok":true,"nrows":${r.rows.length},"hash":${jstr(h)},"same_as_first":$same""")
        if (keep || first)
          line.append(s""","cols":${r.cols.map(jstr).mkString("[", ",", "]")},"rows":${rows.mkString("[", ",", "]")}""")
    }
    line.append("}")
    opsOut.println(line)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (task, driver, JIT and GC threads): unlike
    * wall time it does not grow with time the host takes from this machine.
    */
  def cpuNanos(): Long = os.getProcessCpuTime

  /** Heap still reachable after a full collection plus the JVM's
    * non-heap use (metaspace, code cache), in MB: memory the program holds,
    * not memory the collector has yet to reclaim. Collects twice: the
    * first lets Spark's ContextCleaner drop the broadcast and shuffle state
    * of plans no longer reachable (it runs on its own thread), the second
    * frees it; one collection read 17 MB more of the ingest heap in about
    * half of the runs.
    */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  // ---------------------------------------------------------------- session

  def build(): SparkSession = {
    val cpus = job.int("cpus")
    val data = job.str("data")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        graft.GraftConf.initShufflePartitions(data, cpus).toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.graft.gateSort", "false")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", job.str("warehouse"))
      .config("spark.local.dir", job.str("local"))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Logs.quietTinyFrameWindowWarnings()
    s
  }

  /** A fresh session over the shared context: its own views, catalog
    * registrations and conf, as a new analyst connection would get.
    */
  def freshSession(): SparkSession = {
    val s = spark.newSession()
    engine.foreach(_.register(s))
    s
  }

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def dirFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .count(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))

  // ---------------------------------------------------------------- analyst

  private def layerOf(key: String): String = key.take(3) match {
    case "c16" => "Temporal.query"
    case k if k.startsWith("q") => "Relational.query"
    case _ => "Cohort.report"
  }

  private def concept(json: String): Panels.Concept =
    PanelsJson.parse(s"""{"panels":[{"concepts":[$json]}]}""").panels.head.concepts.head

  def analystOp(s: SparkSession, dir: String, o: JValue): Unit = {
    val id = (o \ "id").extract[String]
    (o \ "kind").extract[String] match {
      case "fixed" =>
        val key = (o \ "key").extract[String]
        op(id, "fixed", layerOf(key), key, read = true, keep = false) {
          collectAll(SparkEntry.queries(key)(s, dir))
        }
      case "cohort" =>
        val doc = (o \ "def").extract[String]
        (o \ "door").extract[String] match {
          case "sql" =>
            op(id, "cohort", "GraftExtensions.graft_cohort", id, read = true, keep = true) {
              collectAll(s.sql(s"SELECT * FROM graft_cohort('${doc.replace("'", "''")}')"))
            }
          case "api" =>
            op(id, "cohort", "Panels.cohort", id, read = true, keep = true) {
              val cd = PanelsJson.parse(doc)
              val ev = Tables.events(s, dir)
              val needEnc = cd.scope == Panels.EncounterScope ||
                cd.panels.exists(_.perEncounter)
              collectAll(Panels.cohort(if (needEnc) Panels.withEncounters(ev) else ev, cd))
            }
          case "anchored" =>
            op(id, "cohort", "Panels.cohort", id, read = true, keep = true) {
              val panels = PanelsJson.parse(doc).panels
              collectAll(Panels.anchoredCohort(Tables.events(s, dir),
                concept((o \ "anchor").extract[String]), (o \ "days").extract[Int], panels))
            }
        }
    }
  }

  // ---------------------------------------------------------------- corpus

  private val Pipelines = Seq(
    "p04_pipeline_release" -> "Pipeline.release",
    "d04_dedup_simhash" -> "Dedup.pipeline",
    "t08_pii_redaction" -> "TextAnalysis.pipeline")

  /** The persisted indexes the round serves from or its pipelines read. */
  private def builds(s: SparkSession, d: String): Seq[(String, String, () => Any)] = Seq(
    ("ann_lsh", "Similarity.index_build", () => Similarity.ensureAnnIndex(s, d)),
    ("ivf", "Similarity.index_build", () => Similarity.ensureIvfIndex(s, d)),
    ("pq", "Similarity.index_build", () => Similarity.ensurePqIndex(s, d)),
    ("dedup_decision", "Dedup.index_build", () => Dedup.ensureDecision(s, d)))

  private def vec(v: JValue): Seq[Float] = v.extract[List[Double]].map(_.toFloat)

  /** A private copy of the corpus whose embeddings live in a directory,
    * so a refresh can append a file to it. A new path is also a new
    * index key, so every index builds cold.
    */
  def corpusCopy(tag: String): String = {
    val to = Paths.get(job.str("work"), "corpus", tag)
    copyTree(Paths.get(job.str("data")), to)
    val f = to.resolve("embeddings.parquet")
    val tmp = to.resolve("embeddings.tmp")
    Files.move(f, tmp)
    Files.createDirectories(f)
    Files.move(tmp, f.resolve("part-00000.parquet"))
    to.toString
  }

  def corpusRound(s: SparkSession, tag: String, queries: List[JValue]): Unit = {
    val d = corpusCopy(tag)
    builds(s, d).foreach { case (name, layer, f) =>
      op(s"$tag.build.$name", "build", layer, name, read = false, keep = false) {
        f(); Wrote
      }
    }
    queries.foreach { qv =>
      val (qid, q) = ((qv \ "id").extract[String], vec(qv \ "vec"))
      Seq("lsh" -> (Similarity.annQueryLsh _), "ivf" -> (Similarity.annQueryIvf _),
          "pq" -> (Similarity.annQueryPq _)).foreach { case (ix, f) =>
        op(s"$tag.$qid.$ix", "ann", "Similarity.serve", s"$tag.$qid.$ix",
            read = true, keep = true) {
          collectAll(f(s, d, q, 10))
        }
      }
    }
    Pipelines.foreach { case (key, layer) =>
      val out = Paths.get(job.str("out"), "pipelines", tag, key).toString
      op(s"$tag.$key", "pipeline", layer, key, read = false, keep = false) {
        SparkEntry.queries(key)(s, d).write.mode("overwrite").parquet(out)
        Wrote
      }
    }
    // the refresh: new vectors land beside the corpus the indexes were
    // built from (the benchmark's own append, not timed), ensure* is asked
    // again, and each new vector must find itself
    val fresh = job.arr("refresh_ids").map(_.extract[Long])
      .zip(job.arr("refresh_vectors").map(vec))
    s.createDataFrame(fresh.map { case (i, v) => Row(i, v.toArray, 0) }.asJava,
        StructType(Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))))
      .coalesce(1).write.mode("append").parquet(s"$d/embeddings.parquet")
    op(s"$tag.refresh", "refresh", "Similarity.refresh", "refresh", read = false, keep = false) {
      Similarity.ensureAnnIndex(s, d); Similarity.ensureIvfIndex(s, d); Wrote
    }
    for ((i, v) <- fresh;
         (ix, f) <- Seq("lsh" -> (Similarity.annQueryLsh _), "ivf" -> (Similarity.annQueryIvf _)))
      op(s"$tag.refresh.$i.$ix", "refresh_query", "Similarity.serve", s"$tag.refresh.$i.$ix",
          read = true, keep = true) {
        collectAll(f(s, d, v, 10))
      }
  }

  // ---------------------------------------------------------------- ingest

  def batchFrame(s: SparkSession, p: String): DataFrame =
    s.read.parquet(p).withColumn("ts", col("ts").cast("timestamp"))

  /** The HEAD read: the job's fixed cohort over the snapshot table's HEAD. */
  def headRead(s: SparkSession, root: String, id: String, keep: Boolean): Unit =
    op(id, "head_read", "Snapshots.read_head", id, read = true, keep = keep) {
      collectAll(Panels.cohort(Snapshots.read(s, root),
        PanelsJson.parse(job.str("head_cohort"))))
    }

  /** The pinned-version read: a per-type report over a past snapshot. */
  def versionReport(df: DataFrame): DataFrame =
    df.groupBy("event_type").agg(count(lit(1)).as("n"),
      sum(round(col("value") * 100).cast("long")).as("value_cents"),
      countDistinct("user_id").as("users"))

  def ingestBatch(s: SparkSession, root: String, b: JValue): Unit = {
    val bid = (b \ "id").extract[String]
    var appended = 0
    op(s"$bid.append", "commit", "Snapshots.commit", "commit", read = false, keep = false) {
      appended = Snapshots.commit(s, root, batchFrame(s, (b \ "insert").extract[String]))
      Res(Seq("version"), Array(Row(appended)))
    }
    op(s"$bid.merge", "commit", "Snapshots.merge", "merge", read = false, keep = false) {
      Res(Seq("version"), Array(Row(Snapshots.mergeInto(s, root,
        batchFrame(s, (b \ "update").extract[String]), Seq("event_id")))))
    }
    (b \ "erase") match {
      case JArray(us) if us.nonEmpty =>
        val users = us.map(_.extract[Long])
        op(s"$bid.delete", "commit", "Snapshots.delete", "delete", read = false, keep = false) {
          Res(Seq("version"), Array(Row(Snapshots.deleteWhere(s, root,
            col("user_id").isin(users: _*)))))
        }
      case _ => ()
    }
    headRead(s, root, s"$bid.head", keep = true)
    if (appended > 0) {
      op(s"$bid.pinned", "version_read", "Snapshots.read_version", s"$bid.pinned",
          read = true, keep = true) {
        collectAll(versionReport(Snapshots.read(s, root, Some(appended))))
      }
      op(s"$bid.changes", "changes_read", "Snapshots.changes", s"$bid.changes",
          read = true, keep = true) {
        collectAll(Snapshots.changesBetween(s, root, appended - 1, appended)
          .select("event_id", "user_id", "event_type", "value"))
      }
    }
  }

  /** Bytes and data dirs HEAD references, from its manifest. */
  def headFootprint(root: String): (Long, Long) = {
    val mdir = Paths.get(root, "manifests")
    val head = Files.list(mdir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("v[0-9]+\\.json")).maxBy(_.drop(1).dropRight(5).toInt)
    val m = JsonMethods.parse(new String(Files.readAllBytes(mdir.resolve(head)), "UTF-8"))
    val dirs = (m \ "dirs").extract[List[String]]
    val dvs = (m \ "dvs").extract[List[String]]
    def local(p: String) = Paths.get(p.stripPrefix("file:"))
    ((dirs ++ dvs).distinct.map(p => dirBytes(local(p))).sum, dirs.distinct.size.toLong)
  }

  // ---------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    job = Job(JsonMethods.parse(new String(Files.readAllBytes(Paths.get(args(0))), "UTF-8")))
    val out = Paths.get(job.str("out"))
    Files.createDirectories(out)
    opsOut = new PrintWriter(out.resolve("ops.jsonl").toFile, "UTF-8")
    val trace = job.int("trace") == 1
    val loadBefore = loadavg()
    val t00 = System.nanoTime()
    spark = build()
    spans = new Spans(trace)
    if (trace) {
      val e = new EngineTrace(spark.sparkContext)
      spark.sparkContext.addSparkListener(e)
      EngineTrace.captureCodegen()
      engine = Some(e)
    }
    val contextSec = (System.nanoTime() - t00) / 1e9
    val workload = job.str("workload")
    val data = job.str("data")
    // graft's own DuckDB oracle SQL, for the checks made outside the JVM
    Files.write(out.resolve("oracle_sql.json"), SparkEntry.oracleSql.toSeq.sorted
      .map { case (k, q) => s"${jstr(k)}:${jstr(q)}" }.mkString("{", ",", "}").getBytes("UTF-8"))

    // --- set-up, repeated; the last one's session and state are measured
    val setupSecs = mutable.ArrayBuffer[Double]()
    var session: SparkSession = null
    var root: String = null
    val nSetups = job.int("setups")
    for (k <- 0 until nSetups) {
      val t0 = System.nanoTime()
      spans("setup") {
        session = freshSession()
        workload match {
          case "analyst" =>
            spans("Tables.load") { Tables.registerViews(session, data) }
            job.arr("warm").foreach(analystOp(session, data, _))
          case "corpus" =>
            spans("Tables.load") { Tables.registerViews(session, data) }
            op(s"setup$k.s01", "ann", "Similarity.serve", "s01", read = true, keep = false) {
              collectAll(SparkEntry.queries("s01_ann_bruteforce")(session, data))
            }
          case "ingest" =>
            root = Paths.get(job.str("work"), "snap", s"setup$k").toString
            val ev = spans("Tables.load") {
              Tables.registerViews(session, data); Tables.events(session, data)
            }
            op(s"setup$k.bootstrap", "bootstrap", "Snapshots.commit", "bootstrap",
                read = false, keep = false) {
              Snapshots.commit(session, root, ev); Wrote
            }
            headRead(session, root, s"setup$k.head", keep = false)
        }
      }
      setupSecs += (System.nanoTime() - t0) / 1e9
    }
    // set-up operations are not part of the measured mix
    opsOut.println("""{"phase":"measure"}""")
    opDeltas.clear(); opWindows.clear(); readScanRows = 0; readResultRows = 0
    val setupSpans = spans.self.toMap
    var live = liveMb()
    measuring = true
    spans.self.clear()

    // --- measured rounds: whole rounds until the time is spent
    val seconds = job.int("seconds")
    val rounds = job.arr("rounds")
    val roundSecs = mutable.ArrayBuffer[Double]()
    val roundCpu = mutable.ArrayBuffer[Double]()
    val tMeasure = System.nanoTime()
    val inject = job.str("inject")
    var r = 0
    while (r < rounds.size && (r == 0 || (System.nanoTime() - tMeasure) / 1e9 < seconds)) {
      val t0 = System.nanoTime()
      val c0 = cpuNanos()
      opsOut.println(s"""{"round":$r}""")
      val rd = rounds(r)
      workload match {
        case "analyst" => rd match {
          case JArray(ops) => ops.foreach(analystOp(session, data, _))
          case _ => ()
        }
        case "corpus" =>
          corpusRound(session, s"r$r", (rd \ "queries").extract[List[JValue]])
        case "ingest" =>
          val before = dirBytes(Paths.get(root))
          val filesBefore = dirFiles(Paths.get(root))
          val bs = (rd \ "batches").extract[List[JValue]]
          bs.foreach(ingestBatch(session, root, _))
          val (headBytes, headDirs) = headFootprint(root)
          op(s"r$r.compact", "compact", "Snapshots.compact", "compact",
              read = false, keep = false) {
            Res(Seq("version"), Array(Row(Snapshots.compact(session, root, Seq("user_id")))))
          }
          // the last batch's HEAD read again, over the compacted table
          headRead(session, root, s"${(bs.last \ "id").extract[String]}.head_compacted",
            keep = true)
          val (liveBytes, _) = headFootprint(root)
          val written = dirBytes(Paths.get(root)) - before
          opsOut.println(s"""{"footprint":{"round":$r,"head_bytes":$headBytes,"head_dirs":$headDirs,"live_bytes":$liveBytes,"bytes_written":$written,"files_written":${dirFiles(Paths.get(root)) - filesBefore}}}""")
      }
      if (inject.contains("fail"))
        op(s"r$r.injected", "cohort", "GraftExtensions.graft_cohort", "injected",
            read = true, keep = true) {
          collectAll(session.sql("SELECT * FROM graft_cohort('{\"panels\":[]}')"))
        }
      roundSecs += (System.nanoTime() - t0) / 1e9
      roundCpu += (cpuNanos() - c0) / 1e9
      live = math.max(live, liveMb())
      r += 1
    }
    val measureSec = (System.nanoTime() - tMeasure) / 1e9
    opsOut.close()

    // --- summary
    val idle = engine.map { e =>
      val tasks = e.taskSpans.sortBy(_._1)
      opWindows.map { case (w0, w1) =>
        var busy = 0L; var cur = w0
        tasks.foreach { case (a, b) =>
          val lo = math.max(a, cur); val hi = math.min(b, w1)
          if (hi > lo) { busy += hi - lo; cur = hi }
        }
        (w1 - w0 - busy) / 1e3
      }.sum
    }.getOrElse(0.0)
    def spanJson(m: collection.Map[String, (Int, Long)]) = m.map { case (k, (n, ns)) =>
      s"${jstr(k)}:{\"n\":$n,\"self_s\":${num(ns / 1e9)}}" }.mkString("{", ",", "}")
    val engJson = (opDeltas.toSeq :+ ("idle_s" -> idle)).map { case (k, v) =>
      s"${jstr(k)}:${num(v)}" }.mkString("{", ",", "}")
    val summary =
      s"""{"setup_s":${setupSecs.map(num).mkString("[", ",", "]")},"context_s":${num(contextSec)},"round_s":${roundSecs.map(num).mkString("[", ",", "]")},"round_cpu_s":${roundCpu.map(num).mkString("[", ",", "]")},"rounds":$r,"measure_s":${num(measureSec)},"live_mb":${num(live)},"cpus":${job.int("cpus")},"nproc":${Runtime.getRuntime.availableProcessors()},"loadavg_before":${jstr(loadBefore)},"loadavg_after":${jstr(loadavg())},"setup_spans":${spanJson(setupSpans)},"spans":${spanJson(spans.self)},"engine":$engJson,"read_scan_rows":${num(readScanRows)},"read_result_rows":$readResultRows}"""
    Files.write(out.resolve("summary.json"), summary.getBytes("UTF-8"))
    spark.stop()
  }

  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "" }
}
