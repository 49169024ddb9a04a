package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.index.{IndexStore, Metrics}
import graft.operators.Dedup

/** Benchmark harness: runs the workloads of a plan written by `run.py` and
  * writes every latency, answer digest and layer number to a JSON file.
  *
  * Usage: perfbench.Main <plan.json> <out.json>
  *
  * One closed-loop client: each operation starts after the previous one
  * returned. A run executes the plan's rounds, all of them; each round holds
  * the same operation shapes. With tracing on, each statement runs traced
  * and untraced, so the same run yields the per-layer numbers and the
  * tracing overhead. */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class OpSpec(key: String, kind: String, sql: Option[String], claimable: Boolean)
  final case class Round(moves: Seq[(String, String)], ops: Seq[OpSpec])

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(new File(args(0)))
    val cores = plan.get("cores").asInt
    val spark = graft.GraftSession.configure(SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.warehouse.dir", plan.get("warehouse").asText)
        .config("spark.local.dir", plan.get("local_dir").asText))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.adopt(spark)
    graft.search.SqlSurface.registerAll(spark)
    val sessionReadyMs = System.currentTimeMillis()
    val results = plan.get("workloads").elements.asScala.toSeq.map(w =>
      runWorkload(spark, new Recorder(spark, plan.get("index_root").asText), w,
        plan.get("trace").asBoolean, plan.get("spans_dir").asText))
    json.writeValue(new File(args(1)), Map("workloads" -> results,
      "session_ready_epoch_ms" -> sessionReadyMs,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0))
    spark.stop()
  }

  private def rounds(w: JsonNode): Seq[Round] =
    w.get("rounds").elements.asScala.toSeq.map { r =>
      Round(
        r.get("moves").elements.asScala.toSeq.map(m => m.get(0).asText -> m.get(1).asText),
        r.get("ops").elements.asScala.toSeq.map { o =>
          OpSpec(o.get("key").asText, o.get("kind").asText,
            Option(o.get("sql")).filterNot(_.isNull).map(_.asText),
            Option(o.get("claimable")).exists(_.asBoolean))
        })
    }

  private def timedMs[A](into: mutable.Map[String, Double], name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally into(name) = (System.nanoTime() - t0) / 1e6
  }

  private def describe(spark: SparkSession, index: String): Map[String, String] =
    spark.sql(s"DESCRIBE SEARCH INDEX $index").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  private def bytesUnder(dir: String): Long = {
    val f = new File(dir)
    if (!f.exists) 0L
    else Files.walk(f.toPath).iterator.asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }

  private def register(spark: SparkSession, view: String, path: String): Unit =
    spark.read.parquet(path).createOrReplaceTempView(view)

  /** Canonical text of one row, for answers and digests. */
  private def cell(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case s: scala.collection.Seq[_] => s.map(cell)
    case r: Row => r.toSeq.map(cell)
    case x: java.lang.Number => x
    case b: java.lang.Boolean => b
    case other => other.toString
  }

  private def digest(rows: Seq[Seq[Any]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(r => json.writeValueAsString(r)).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def runWorkload(spark: SparkSession, rec: Recorder, w: JsonNode,
      trace: Boolean, spansDir: String): Map[String, Any] = {
    val name = w.get("name").asText
    val data = w.get("data").asText
    val setupMs = mutable.LinkedHashMap.empty[String, Double]
    val indexes = mutable.LinkedHashMap.empty[String, String] // name -> dir
    var tpchText = Map.empty[String, String]
    var dedupDocs: DataFrame = null

    def createIndexes(prefix: String, docs: String, emb: String): Unit = {
      timedMs(setupMs, "index.text")(spark.sql(
        s"CREATE SEARCH INDEX ${prefix}_text ON $docs (text) " +
          "WITH (id = 'doc_id', analyzer = 'whitespace')").collect())
      timedMs(setupMs, "index.vector")(spark.sql(
        s"CREATE VECTOR INDEX ${prefix}_vec ON $emb (embedding) " +
          "WITH (id = 'vec_id', metric = 'l2')").collect())
      Seq(s"${prefix}_text", s"${prefix}_vec").foreach(i =>
        indexes(i) = describe(spark, i)("location"))
    }

    name match {
      case "search" =>
        timedMs(setupMs, "views") {
          register(spark, "search_docs", s"$data/docs.parquet")
          register(spark, "search_emb", s"$data/emb.parquet")
        }
        createIndexes("search", "search_docs", "search_emb")
      case "ingest" =>
        timedMs(setupMs, "views") {
          register(spark, "ingest_docs", s"$data/src_docs")
          register(spark, "ingest_emb", s"$data/src_emb")
        }
        createIndexes("ingest", "ingest_docs", "ingest_emb")
      case "analytics" =>
        // the TPC-H texts of graft.queries.Tpch, taken from the parsed
        // statements (Tpch.all registers the tables and parses each text)
        tpchText = timedMs(setupMs, "views") {
          graft.queries.Tpch.all.toSeq.map { case (q, build) =>
            q -> build(spark, data).queryExecution.logical.origin.sqlText.get
          }.toMap
        }
      case "dedup" =>
        dedupDocs = timedMs(setupMs, "views")(spark.read.parquet(s"$data/docs.parquet"))
    }

    // cached RDD blocks: the most seen right after a REFRESH or when the loop
    // ends, read before any collection lets Spark's cleaner drop them
    val sc = spark.sparkContext
    var cachedRdds, cachedBytes = 0.0
    def readStorage(): Unit = {
      cachedRdds = math.max(cachedRdds, sc.getPersistentRDDs.size)
      cachedBytes = math.max(cachedBytes, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    }
    val dedupStats = mutable.ArrayBuffer.empty[(Double, Long)] // (signatures ms, candidates)
    val refreshGrowth = mutable.ArrayBuffer.empty[(Long, Long)] // (bytes written, delta docs)

    def run(o: OpSpec): Outcome = o.kind match {
      case "dedup" =>
        rec.op("dedup", "dedup.build", "operators") {
          if (!rec.tracing)
            Dedup.minHashDedup(dedupDocs, "doc_id", "text", minJ = 0.9, numHashes = 128, bands = 64)
          else {
            // the stages of minHashDedup, called one by one
            val t0 = System.nanoTime()
            val sigs = rec.span("dedup.signatures", "operators") {
              val s = Dedup.minHashSignatures(dedupDocs, "doc_id", "text", 128)
              s.write.mode("overwrite").format("noop").save()
              s
            }
            val sigMs = (System.nanoTime() - t0) / 1e6
            val cands = Dedup.lshCandidates(sigs, 64)
            val n = rec.span("dedup.candidates", "operators")(cands.count())
            dedupStats += sigMs -> n
            Dedup.jaccardVerify(cands, Dedup.shingles(dedupDocs, "doc_id", "text"), 0.9)
          }
        }
      case k if k.startsWith("refresh") =>
        val dir = indexes(o.sql.get.split("\\s+").last)
        val before = if (rec.tracing) bytesUnder(dir) else 0L
        val out = rec.op(k, "ddl.refresh", "index")(spark.sql(o.sql.get))
        readStorage()
        if (rec.tracing && k == "refresh_text") out.rows.foreach { rows =>
          val delta = """\(\+(\d+) docs\)""".r.findFirstMatchIn(rows.head.getString(0))
            .map(_.group(1).toLong).getOrElse(0L)
          refreshGrowth += (bytesUnder(dir) - before) -> delta
        }
        out
      case k if k.startsWith("tpch_") =>
        rec.op(k, "spark.sql", "search")(spark.sql(tpchText(k)))
      case k =>
        rec.op(k, "spark.sql", "search", o.claimable)(spark.sql(o.sql.get))
    }

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val answers = mutable.LinkedHashMap.empty[String, Seq[Seq[Any]]]
    val all = rounds(w)
    // warm-up rounds belong to set-up: untimed, their answers unchecked
    // (the same operations run again, checked, in the loop)
    for (_ <- 0 until w.get("warmup_rounds").asInt; o <- all.head.ops) run(o)
    val setupEndMs = System.currentTimeMillis()
    val loopT0 = System.nanoTime()
    for ((round, r) <- all.zipWithIndex) {
      if (round.moves.nonEmpty) {
        // an ingest batch: the writer's file changes land in the source roots
        round.moves.foreach { case (from, to) =>
          Files.createDirectories(Paths.get(to).getParent)
          Files.move(Paths.get(from), Paths.get(to), StandardCopyOption.REPLACE_EXISTING)
        }
        Seq("ingest_docs" -> s"$data/src_docs", "ingest_emb" -> s"$data/src_emb").foreach {
          case (view, root) =>
            spark.catalog.refreshByPath(root)
            register(spark, view, root)
        }
      }
      round.ops.zipWithIndex.foreach { case (o, i) =>
        // traced runs execute each statement twice, traced and untraced in
        // alternating order, so the pair gives the tracing overhead; a
        // REFRESH runs once, traced, since a second one would find no delta
        val modes =
          if (!trace) Seq(false)
          else if (o.kind.startsWith("refresh")) Seq(true)
          else if (i % 2 == 0) Seq(true, false) else Seq(false, true)
        for (traced <- modes) {
          rec.tracing = traced
          val out = run(o)
          val rows = out.rows.map(_.map(row => row.toSeq.map(cell)))
          rows.foreach(rs => if (!answers.contains(o.key)) answers(o.key) = rs)
          ops += Map("round" -> r, "pos" -> i, "key" -> o.key, "kind" -> o.kind,
            "ms" -> out.ms, "traced" -> traced, "error" -> out.error.orNull,
            "rows" -> rows.map(_.size).getOrElse(null),
            "digest" -> rows.map(digest).orNull)
        }
      }
    }
    rec.tracing = false
    val loopS = (System.nanoTime() - loopT0) / 1e9

    readStorage()
    val storage = Map("storage.cached_rdds" -> cachedRdds, "storage.cached_bytes" -> cachedBytes)
    // live heap: the least of three reads, each after a full collection
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        rec.writeSpans(s"$spansDir/spans-$name.jsonl")
        layerMetrics(spark, rec, ops.toSeq, setupMs.toMap, indexes.toMap,
          dedupStats.toSeq, refreshGrowth.toSeq, dedupDocs) ++ storage
      }
    Map("name" -> name, "setup_ms" -> setupMs, "setup_end_epoch_ms" -> setupEndMs,
      "rounds" -> all.size, "loop_s" -> loopS, "ops" -> ops, "answers" -> answers,
      "retained_heap_mb" -> heapMb, "layers" -> layers,
      "oracles" -> (if (name == "analytics") graft.queries.Tpch.oracles else Map.empty))
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The per-layer numbers of one traced run. Per-statement figures are
    * means over the traced statements; layers the workload does not use
    * read 0. */
  private def layerMetrics(spark: SparkSession, rec: Recorder, ops: Seq[Map[String, Any]],
      setupMs: Map[String, Double], indexes: Map[String, String],
      dedupStats: Seq[(Double, Long)], refreshGrowth: Seq[(Long, Long)],
      dedupDocs: DataFrame): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val n = math.max(rec.tracedStatements, 1)
    rec.sums.foreach { case (k, v) => m(k) = v / n }
    def spanMs(name: String) =
      rec.spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq
    m("search.sql_ms") = mean(spanMs("spark.sql"))
    m("plans.optimize_ms") = mean(spanMs("plans.optimize"))
    m("plans.physical_ms") = mean(spanMs("plans.physical"))
    m("exec.run_ms") = mean(spanMs("exec.run"))
    m("plans.claimable_statements") = rec.claimable
    m("plans.claimed_share") = if (rec.claimable == 0) 0.0 else rec.claimed.toDouble / rec.claimable
    rec.selfMs.foreach { case (layer, ms) => m(s"self_ms.$layer") = ms / n }

    // index layer
    val builds = setupMs.collect { case (k, v) if k.startsWith("index.") => v / 1000 }.toSeq
    m("index.build_s") = mean(builds)
    m("index.refresh_ms") = median(ops.filter(_("kind").toString.startsWith("refresh"))
      .map(_("ms").asInstanceOf[Double]))
    m("index.refresh_delta_docs") = mean(refreshGrowth.map(_._2.toDouble))
    m("index.bytes_written_per_delta_doc") =
      mean(refreshGrowth.filter(_._2 > 0).map { case (b, d) => b.toDouble / d })
    val textDirs = indexes.collect { case (k, d) if k.endsWith("_text") => d }.toSeq
    m("index.segments") = textDirs.map(d => IndexStore.listSegments(spark, d).size).sum
    m("index.live_docs") = textDirs.map(d => IndexStore.metaNumDocs(spark, d)
      .getOrElse(IndexStore.load(spark, d).numDocs)).sum
    for (kind <- Seq("commit", "consolidation", "cleanup"))
      m(s"index.maintenance.${kind}_ms") = indexes.values.map(d => Metrics.counter(d, kind).totalMs).sum
    m("index.bytes") = indexes.values.map(bytesUnder).sum

    // operators layer (dedup)
    m("operators.signatures_ms") = mean(dedupStats.map(_._1))
    m("operators.candidates") = mean(dedupStats.map(_._2.toDouble))
    m("operators.verified_pairs") = mean(ops.filter(o => o("kind") == "dedup" && o("traced") == true)
      .flatMap(o => Option(o("rows")).map(_.asInstanceOf[Int].toDouble)))
    m("operators.verify_yield") =
      if (m("operators.candidates") == 0) 0.0 else m("operators.verified_pairs") / m("operators.candidates")
    m("operators.lsh_dropped") = if (dedupStats.isEmpty) 0.0 else rec.lshDropped / dedupStats.size
    val untracedDedup = ops.filter(o => o("kind") == "dedup" && o("traced") == false)
      .map(_("ms").asInstanceOf[Double])
    m("operators.docs_per_s") =
      if (dedupDocs == null || untracedDedup.isEmpty) 0.0
      else dedupDocs.count() / (median(untracedDedup) / 1000)

    // tracing overhead: each statement's traced run against its untraced twin
    val pairs = ops.groupBy(o => (o("round"), o("pos"))).values.collect {
      case Seq(a, b) =>
        val (t, p) = if (a("traced") == true) (a, b) else (b, a)
        (t("ms").asInstanceOf[Double], p("ms").asInstanceOf[Double])
    }.toSeq
    val pMs = median(pairs.map(_._2))
    m("trace.overhead_ms") = median(pairs.map { case (t, p) => t - p })
    m("trace.overhead_share") = if (pMs == 0) 0.0 else m("trace.overhead_ms") / pMs
    m("trace.spans") = rec.spans.size
    m.toMap
  }
}
