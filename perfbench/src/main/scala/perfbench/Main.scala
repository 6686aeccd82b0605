package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.functions.GraftExtensions
import graft.queries.Queries
import graft.wrapper._

/** Benchmark harness: runs one workload as a closed loop with one client
  * thread, records the latency of every call it makes into the program,
  * checks the outputs, and writes raw samples for `run.py` to summarize.
  *
  * Usage: perfbench.Main --plan <plan.json> --work <dir> --seconds <s>
  *          --trace <0|1> --cpus <n> --out <results.json> --spans <file>
  */
object Main {
  val mapper = new ObjectMapper()

  final case class Op(kind: String, label: String, stmt: Boolean, ms: Double,
      phase: String, job: Int, extra: Map[String, Any] = Map.empty)

  /** Raised when a program output differs from the expected one. */
  final class WrongResult(msg: String) extends RuntimeException(msg)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val plan = mapper.readTree(new File(opt("plan")))
    val bench = new Bench(plan, opt("work"), opt("seconds").toDouble,
      opt("trace") == "1", opt("cpus"))
    val result = bench.run()
    mapper.writeValue(new File(opt("out")), Json.toJava(result))
    bench.writeSpans(opt("spans"))
  }
}

/** Plain Scala values → Java collections, for Jackson. */
object Json {
  def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case d: Double => if (d.isNaN || d.isInfinite) null else d
    case other => other
  }
}

final class Bench(plan: JsonNode, work: String, seconds: Double,
    trace: Boolean, cpus: String) {
  import Main._

  private val workload = plan.get("workload").asText
  private val starDir = plan.get("star_dir").asText
  private val tracer = new Tracer
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val statementTexts = mutable.LinkedHashSet.empty[String]
  private var phase = "warmup"
  private var job = 0
  private var attempted = 0L
  private var failed = 0L
  private var counters: Map[Long, Counters] = Map.empty
  private var jobExtra: Map[String, Any] = Map.empty
  private var spark: SparkSession = _
  // A job's wall time runs from the wrapper's construction to the end of
  // finish(); table restores before it and output checks after it are not in it.
  private var jobT0, jobT1 = 0L

  // ------------------------------------------------------------ recording

  /** Time one wrapper call into the program; `layer` names the module called. */
  private def call[T](kind: String, label: String, layer: String,
      extra: => Map[String, Any] = Map.empty)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = tracer.span(s"$layer.$kind", layer, Map("label" -> label))(body)
    val ms = (System.nanoTime() - t0) / 1e6
    ops += Op(kind, label, stmt = true, ms, phase, job, extra)
    r
  }

  private def check(name: String, ok: Boolean, detail: => String): Unit = {
    if (checks.size < 200 || !ok)
      checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail),
        "job" -> job, "phase" -> phase)
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    }
  }

  // ------------------------------------------------------------ session

  private def newSession(): SparkSession = {
    val s = Sessions.builder(cpus)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$work/checkpoint")
    s
  }

  /** Set-up as a user pays it: session built, extensions registered, first
    * wrapper initialised on an empty log store. Done three times (the first
    * timed from JVM start); the median is `setup_s`. */
  private def setup(): Seq[Map[String, Any]] = (0 until 3).map { i =>
    if (spark != null) spark.stop()
    val t0 = System.nanoTime()
    spark = tracer.span("sessions.build", "sessions")(newSession())
    val t1 = System.nanoTime()
    tracer.span("sessions.register", "sessions")(GraftExtensions.register(spark))
    val t2 = System.nanoTime()
    tracer.span("wrapper.init", "wrapper") {
      QueryWrapper(spark, Some(new LogStore(spark, s"$work/setup_store_$i")), "perfbench_setup")
    }
    val t3 = System.nanoTime()
    val total =
      if (i == 0) ManagementFactory.getRuntimeMXBean.getUptime / 1e3
      else (t3 - t0) / 1e9
    Map("total_s" -> total, "build_ms" -> (t1 - t0) / 1e6,
      "register_ms" -> (t2 - t1) / 1e6, "init_ms" -> (t3 - t2) / 1e6)
  }

  // ------------------------------------------------------------ wrapper calls

  private def init(store: String, script: String): QueryWrapper = {
    jobT0 = System.nanoTime()
    call("init", script, "wrapper") {
      QueryWrapper(spark, Some(new LogStore(spark, store)), script)
    }
  }

  private def stmt(w: QueryWrapper, kind: String, label: String, sql: String): QueryResult = {
    statementTexts += sql
    lazy val res0 = w.query(sql)
    val (ok, res) = call(kind, label, "wrapper",
      extra = Map("rows" -> res0._2.rowsAffected.getOrElse(-1L)))(res0)
    if (!ok) throw new WrongResult(s"$label failed: ${res.errorMessage}")
    res
  }

  /** `query` then full iteration of the result, timed as one SELECT; the
    * iteration alone is recorded as `iterate_ms`. */
  private def select(w: QueryWrapper, label: String, sql: String,
      values: Boolean): Seq[Seq[Any]] = {
    statementTexts += sql
    attempted += 1
    val t0 = System.nanoTime()
    var iterMs = 0.0
    val rows = tracer.span("wrapper.select", "wrapper", Map("label" -> label)) {
      val res = tracer.span("wrapper.query", "wrapper")(w.query(sql)._2)
      if (!res.isSuccess) throw new WrongResult(s"$label failed: ${res.errorMessage}")
      val t1 = System.nanoTime()
      val out = tracer.span("wrapper.iterate", "wrapper") {
        if (values) w.queryValues(res).toVector
        else w.queryRows(res).map(r => r.row.toSeq).toVector
      }
      iterMs = (System.nanoTime() - t1) / 1e6
      out
    }
    ops += Op("select", label, stmt = true, (System.nanoTime() - t0) / 1e6, phase, job,
      Map("iterate_ms" -> iterMs))
    rows
  }

  private def commit(w: QueryWrapper): Unit = {
    val (ok, res) = call("commit", "commit", "wrapper")(w.commit())
    if (!ok) throw new WrongResult(s"commit failed: ${res.errorMessage}")
  }

  private def finish(w: QueryWrapper): Long = {
    val msgs = call("finish", "finish", "wrapper")(w.finish())
    jobT1 = System.nanoTime()
    msgs.count()
  }

  /** One declared query: build (`fn(spark, dir)`) plus full materialization
    * through a `noop` write, the discipline of graft.Bench. In the warm-up
    * job the result is written as parquet instead, for the oracle check.
    * A run that is not a `sample` is timed by its job only. */
  private def declared(name: String, family: String, sample: Boolean = true): Unit = {
    val q = Queries.all.find(_.name == name).get
    attempted += 1
    val t0 = System.nanoTime()
    var buildMs, execMs = 0.0
    tracer.span(if (sample) "queries.query" else "queries.warm", "queries",
        Map("label" -> name, "family" -> family)) {
      val df = tracer.span("queries.build", "queries", Map("label" -> name))(q.fn(spark, starDir))
      val t1 = System.nanoTime()
      buildMs = (t1 - t0) / 1e6
      tracer.span("spark.execute", "spark", Map("label" -> name)) {
        if (phase == "warmup") df.coalesce(1).write.mode("overwrite").parquet(dumpPath(name))
        else df.write.format("noop").mode("overwrite").save()
      }
      execMs = (System.nanoTime() - t1) / 1e6
    }
    if (sample)
      ops += Op("query", name, stmt = false, (System.nanoTime() - t0) / 1e6, phase, job,
        Map("family" -> family, "build_ms" -> buildMs, "exec_ms" -> execMs))
  }

  private def dumpPath(name: String) = s"$work/dumps/$name"

  /** The job's own log rows: final status and one detail row per message,
    * with detail ids unique and contiguous after `afterId`. */
  private def checkLog(store: String, runId: Long, messages: Long, afterId: Long,
      filesBefore: Long): Unit = {
    val ls = new LogStore(spark, store)
    val status = ls.jobLog.filter(col("run_id") === runId).select("status")
      .collect().map(_.getString(0)).toSeq
    check("job_log.status", status == Seq("FINISHED SUCCESSFULLY"), s"run $runId: $status")
    val isNew = col("detail_id") > afterId
    val d = ls.jobDetails.agg(count(lit(1)), count(when(isNew, 1)),
      countDistinct(when(isNew, col("detail_id"))), min(when(isNew, col("detail_id"))),
      max(when(isNew, col("detail_id"))), count(when(col("run_id") === runId, 1))).head()
    val (all, n, distinct) = (d.getLong(0), d.getLong(1), d.getLong(2))
    check("job_details.rows", n == messages && d.getLong(5) == messages,
      s"run $runId: $n new rows, ${d.getLong(5)} of this run, $messages messages")
    check("job_details.ids", n == distinct && n > 0 && d.getLong(3) == afterId + 1 &&
      d.getLong(4) == afterId + n, s"ids ${d.get(3)}..${d.get(4)}, $distinct distinct of $n")
    val after = storeStats(store)
    jobExtra ++= Map("store_files_added" -> (after("files") - filesBefore),
      "store_detail_bytes" -> storeStats(s"$store/job_details")("bytes"),
      "store_detail_rows" -> all)
  }

  private def quarantined(w: QueryWrapper): Long =
    w.messagesDataFrame.filter(col("msg_type") === "WARNING").collect()
      .flatMap(r => "quarantined (\\d+)".r.findFirstMatchIn(r.getString(3)))
      .map(_.group(1).toLong).sum

  private def sameRows(label: String, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Unit = {
    def norm(v: Any): Any = v match {
      case n: java.lang.Number => n.doubleValue
      case other => String.valueOf(other)
    }
    check(s"select.$label", got.map(_.map(norm)) == want.map(_.map(norm)),
      s"got ${got.take(3)} want ${want.take(3)}")
  }

  private def json(n: JsonNode): Any =
    if (n.isIntegralNumber) n.asLong
    else if (n.isNumber) n.asDouble
    else if (n.isArray) n.elements.asScala.map(json).toSeq
    else n.asText

  // ------------------------------------------------------------ workloads

  private def table(name: String, ddl: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name ($ddl) USING parquet")
  }

  private def withTimestamps(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      if (f.dataType.typeName.startsWith("timestamp")) col(f.name).cast("timestamp").as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)

  /** Order-independent content hash of a table: row count and the sum of
    * per-row hashes over the string form of every column. */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val row = concat_ws("|", df.columns.toIndexedSeq.map(c =>
      coalesce(col(c).cast("string"), lit("<null>"))): _*)
    val r = df.agg(count(lit(1)), sum(xxhash64(row).cast("decimal(20,0)"))).head()
    (r.getLong(0), BigDecimal(Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)))
  }

  private val LineitemDdl = "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
    "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
    "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP"
  private val OrdersDdl = "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"

  private val AggSelects = Seq(
    "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, " +
      "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents FROM etl.lineitem_tgt " +
      "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "SELECT o_orderpriority, count(*) AS n, sum(CAST(round(o_totalprice * 100) AS BIGINT)) " +
      "AS cents FROM etl.orders_tgt GROUP BY o_orderpriority ORDER BY o_orderpriority",
    "SELECT o.o_orderstatus, count(*) AS n, sum(l.l_quantity) AS qty FROM etl.lineitem_tgt l " +
      "JOIN etl.orders_tgt o ON l.l_orderkey = o.o_orderkey " +
      "GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus")

  /** etl_job: the wrapper as a real ETL job against an aged log store —
    * bulk IMPORTs, MERGE/UPDATE/DELETE, aggregate and point SELECTs,
    * prepared statements, commits, a declared report query run several times. */
  private def etlJob(): () => Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS etl")
    val csvFiles = plan.get("csv_files").elements.asScala.map(_.asText).toSeq
    val changeFiles = plan.get("orders_changes").elements.asScala.map(_.asText).toSeq
    val cut = plan.get("price_cut").asDouble
    val before = plan.get("delete_before").asText
    val batchRows = plan.get("batch_rows").elements.asScala.map(r => json(r).asInstanceOf[Seq[Any]]).toSeq
    val selects = plan.get("selects").elements.asScala.map { s =>
      (s.get(0).asText, s.get(1).asLong, json(s.get(2)).asInstanceOf[Seq[Seq[Any]]])
    }.toSeq
    val prepared = plan.get("prepared_rows").elements.asScala
      .map(r => json(r).asInstanceOf[Seq[Any]]).toSeq
    val aged = Paths.get(plan.get("logstore").asText)
    val agedMax = plan.get("aged").get("max_detail_id").asLong
    val auditKey = plan.get("update_key").asLong
    val reports = plan.get("queries").elements.asScala.map(q => (q.get(0).asText, q.get(1).asText)).toSeq
    val reportReps = plan.get("report_reps").asInt
    val (csvRows, csvBad) = (plan.get("csv_rows").asLong, plan.get("csv_bad_lines").asLong)
    val baseOrders = withTimestamps(spark.read.parquet(s"$starDir/orders.parquet"))
    val lineitem = withTimestamps(spark.read.parquet(s"$starDir/lineitem.parquet"))
    // Read-only reference tables for the point SELECTs, and the params table
    // (unqualified names: a `::NAME` parameter binds one identifier part).
    Seq("ref_orders" -> s"$starDir/orders.parquet", "ref_customer" -> s"$starDir/customer.parquet",
      "ref_nation" -> s"$starDir/nation.parquet", "etl_params" -> plan.get("params").asText)
      .foreach { case (t, path) =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.sql(s"CREATE TABLE $t USING parquet OPTIONS (path '$path')")
      }
    // Expected target contents, computed with plain DataFrame operations.
    val changes = withTimestamps(spark.read.parquet(changeFiles: _*))
    val cols = baseOrders.columns.toIndexedSeq.map(col)
    val merged = baseOrders.join(changes.select(col("o_orderkey"),
        col("o_totalprice").as("new_price")), Seq("o_orderkey"), "left")
      .withColumn("o_totalprice", coalesce(col("new_price"), col("o_totalprice")))
      .select(cols: _*)
      .unionByName(changes.join(baseOrders.select("o_orderkey"), Seq("o_orderkey"), "left_anti"))
    val updated = merged.withColumn("o_orderpriority",
      when(col("o_totalprice") > cut, lit("1-URGENT")).otherwise(col("o_orderpriority")))
    val kept = updated.filter(!(col("o_orderstatus") === "P" &&
      col("o_orderdate") < to_timestamp(lit(before)))).localCheckpoint()
    val batchDf = spark.createDataFrame(batchRows.map(r =>
      (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long], r(2).toString,
        r(3).asInstanceOf[Double], r(4).toString, r(5).toString)))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority")
      .withColumn("o_orderdate", to_timestamp(col("o_orderdate")))
    val wantOrders = digest(kept.unionByName(batchDf))
    val wantLineitem = digest(lineitem)
    // The aggregate SELECTs run before the batch insert.
    kept.createOrReplaceTempView("exp_orders")
    lineitem.createOrReplaceTempView("exp_lineitem")
    val wantAggs = AggSelects.map(s => spark.sql(s
      .replace("etl.lineitem_tgt", "exp_lineitem").replace("etl.orders_tgt", "exp_orders"))
      .collect().toSeq.map(_.toSeq))

    () => {
      table("etl.lineitem_tgt", LineitemDdl)
      table("etl.orders_stage", OrdersDdl)
      table("etl.audit", "id BIGINT, note STRING, amount DOUBLE")
      spark.sql("DROP TABLE IF EXISTS etl.orders_tgt")
      baseOrders.write.format("parquet").saveAsTable("etl.orders_tgt")
      val store = s"$work/logs/etl"
      copyTree(aged, Paths.get(store)) // restore the aged snapshot
      val filesBefore = storeStats(store)("files")
      val w = init(store, "etl_job")
      call("params", "load_params", "wrapper")(w.loadParamsFromTable("etl_params"))
      val loaded = csvFiles.map(f => stmt(w, "import", "import_csv",
        s"IMPORT INTO etl.lineitem_tgt FROM CSV FILE '$f' SKIP = 1").rowsAffected.getOrElse(-1L)).sum
      check("import.csv.loaded", loaded == csvRows, s"loaded $loaded of $csvRows")
      val bad = quarantined(w)
      jobExtra += "quarantined" -> bad
      check("import.csv.quarantined", bad == csvBad, s"quarantined $bad, injected $csvBad")
      changeFiles.foreach(f => stmt(w, "import", "import_parquet",
        s"IMPORT INTO etl.orders_stage FROM PARQUET FILE '$f'"))
      stmt(w, "dml", "merge",
        "MERGE INTO etl.orders_tgt t USING etl.orders_stage s ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice " +
          "WHEN NOT MATCHED THEN INSERT VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus, " +
          "s.o_totalprice, s.o_orderdate, s.o_orderpriority)")
      stmt(w, "dml", "update",
        s"UPDATE etl.orders_tgt SET o_orderpriority = '1-URGENT' WHERE o_totalprice > $cut")
      stmt(w, "dml", "delete",
        s"DELETE FROM etl.orders_tgt WHERE o_orderstatus = 'P' AND " +
          s"o_orderdate < TIMESTAMP '$before'")
      commit(w)
      AggSelects.zipWithIndex.foreach { case (sql, i) =>
        sameRows(s"agg$i", select(w, s"agg$i", sql, values = i == 1), wantAggs(i))
      }
      selects.zipWithIndex.foreach { case ((sql, k, want), i) =>
        w.setParam("K", k)
        sameRows(s"point$i", select(w, s"point${i % 4}", sql, values = i % 2 == 0), want)
      }
      commit(w)
      val batch = w.prepare("INSERT INTO etl.orders_tgt VALUES (?, ?, ?, ?, ?, ?)")
      val (batchOk, _) = call("import", "execute_batch", "prepared")(batch.executeBatch(batchRows))
      check("prepared.batch", batchOk, "executeBatch failed")
      val rows = w.prepare("INSERT INTO etl.audit VALUES (?, ?, ?)")
      val (rowsOk, _) = call("prepared_rows", "execute_rows", "prepared",
        extra = Map("rows" -> prepared.size))(rows.execute(prepared))
      check("prepared.rows", rowsOk, "per-row execute failed")
      stmt(w, "dml", "audit_update", s"UPDATE etl.audit SET note = 'checked' WHERE id = $auditKey")
      stmt(w, "dml", "audit_delete", s"DELETE FROM etl.audit WHERE id <> $auditKey AND amount < 0")
      commit(w)
      // The report stage: each declared report query once more to warm it in
      // this job (its first run after the writes is about twice as slow),
      // then several times as samples, so that the query figures are not
      // one execution. The warm-up job runs it once, for the oracle dump.
      if (phase == "warmup") reports.foreach { case (name, family) => declared(name, family) }
      else {
        reports.foreach { case (name, family) => declared(name, family, sample = false) }
        (0 until reportReps).foreach(_ => reports.foreach { case (n, f) => declared(n, f) })
      }
      val runId = w.runId.get
      val messages = finish(w)
      checkLog(store, runId, messages, afterId = agedMax, filesBefore)
      val gotOrders = digest(spark.table("etl.orders_tgt"))
      check("orders_tgt.digest", gotOrders == wantOrders, s"got $gotOrders want $wantOrders")
      val gotLineitem = digest(spark.table("etl.lineitem_tgt"))
      check("lineitem_tgt.digest", gotLineitem == wantLineitem,
        s"got $gotLineitem want $wantLineitem")
      val audit = spark.table("etl.audit").collect()
      check("audit", audit.length == prepared.size &&
        audit.count(_.getString(1) == "checked") == 1, audit.toSeq.toString)
      deleteTree(Paths.get(store))
    }
  }

  /** pipeline_mix: the declared queries, one pass per job, framed by a
    * light wrapper job that stages a small delta. */
  private def pipelineMix(): () => Unit = {
    val deltas = plan.get("delta_files").elements.asScala.map(_.asText).toSeq
    val selects = plan.get("selects").elements.asScala.map { s =>
      (s.get(0).asText, json(s.get(1)).asInstanceOf[Seq[Seq[Any]]])
    }.toSeq
    val deltaRows = plan.get("delta_rows").asLong
    val cut = plan.get("delta_cut").asDouble
    val queries = plan.get("queries").elements.asScala.map(q => (q.get(0).asText, q.get(1).asText)).toSeq
    () => {
      table("pipe_events_stage", "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")
      val store = s"$work/logs/pipe_$job"
      val w = init(store, "pipeline_pass")
      val loaded = deltas.map(f => stmt(w, "import", "import_parquet",
        s"IMPORT INTO pipe_events_stage FROM PARQUET FILE '$f'").rowsAffected.getOrElse(-1L)).sum
      check("import.parquet.loaded", loaded == deltaRows, s"loaded $loaded of $deltaRows")
      commit(w)
      stmt(w, "dml", "delete", s"DELETE FROM pipe_events_stage WHERE value < $cut")
      stmt(w, "dml", "delete_signups", "DELETE FROM pipe_events_stage WHERE event_type = 'signup'")
      stmt(w, "dml", "update",
        "UPDATE pipe_events_stage SET event_type = upper(event_type) WHERE event_type = 'error'")
      commit(w)
      queries.foreach { case (name, family) =>
        declared(name, family)
        w.log("QUERY", s"$name done")
      }
      commit(w)
      selects.zipWithIndex.foreach { case ((sql, want), i) =>
        sameRows(s"stage$i", select(w, s"stage$i", sql, values = i % 2 == 0), want)
      }
      commit(w)
      val runId = w.runId.get
      val messages = finish(w)
      checkLog(store, runId, messages, afterId = 0L, filesBefore = 0L)
    }
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator.asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.delete)

  // ------------------------------------------------------------ run

  /** Closed loop: jobs back to back until `secs` have passed (at least one). */
  private def loop(secs: Double, body: () => Unit): Unit = {
    val end = System.nanoTime() + (secs * 1e9).toLong
    do runJob(body) while (System.nanoTime() < end)
  }

  private def runJob(body: () => Unit): Unit = {
    tracer.run = job
    jobExtra = Map.empty
    attempted += 1
    try {
      tracer.span("bench.job", "bench")(body())
      ops += Op("job", workload, stmt = false, (jobT1 - jobT0) / 1e6, phase, job, jobExtra)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] job $job failed: $e")
        e.printStackTrace()
    }
    job += 1
  }

  /** The declared queries' results as written in the warm-up job, for the
    * oracle check; a query without an oracle is counted once more to see
    * that its row count is stable. */
  private def dumps(): Seq[Map[String, Any]] =
    plan.get("queries").elements.asScala.toSeq.map { q =>
      val name = q.get(0).asText
      val d = Queries.all.find(_.name == name).get
      try {
        val rows = spark.read.parquet(dumpPath(name)).count()
        val again = if (d.oracle.isDefined) rows else d.fn(spark, starDir).count()
        Map("name" -> name, "path" -> dumpPath(name), "oracle" -> d.oracle, "rows" -> rows,
          "rows_again" -> again)
      } catch { case NonFatal(e) =>
        failed += 1
        Map("name" -> name, "error" -> e.toString)
      }
    }

  /** Per-statement cost of the wrapper's classification chain, timed
    * directly on the texts this workload sent. */
  private def classifyUs(): Double = {
    val params: Map[String, Any] = Map("TAB" -> "t", "CUST_TAB" -> "c", "NATION_TAB" -> "n", "K" -> 1L)
    val texts = statementTexts.toSeq
    def chain(s: String): Unit = {
      val sql = scala.util.Try(Params.spliceIdentifiers(s, params)).getOrElse(s)
      val parsed = Seq(
        () => SqlCompat.parseUpdate(sql), () => SqlCompat.parseDelete(sql),
        () => SqlCompat.parseMerge(sql), () => SqlCompat.parseImport(sql),
        () => SqlCompat.parseFbvImport(sql), () => SqlCompat.parseExport(sql),
        () => SqlCompat.parseParquetImport(sql), () => SqlCompat.parseParquetExport(sql),
        () => SqlCompat.parseJdbcImport(sql), () => SqlCompat.parseJdbcExport(sql),
        () => SqlCompat.parseExecuteScript(sql), () => SqlCompat.parseAsOf(sql))
      parsed.foreach(p => scala.util.Try(p()))
      scala.util.Try {
        val cb = SqlCompat.translateConnectBy(sql).getOrElse(sql)
        val pf = SqlCompat.translatePreferring(cb).getOrElse(cb)
        val qf = SqlCompat.translateQualify(pf).getOrElse(pf)
        val rn = SqlCompat.translateRownum(qf).getOrElse(qf)
        val sr = SqlCompat.translateSelectRownum(rn).getOrElse(rn)
        Params.valueParamNames(SqlCompat.translateDatetimeFormats(
          SqlCompat.translateRatioToReport(SqlCompat.translateGroupConcat(sr))))
      }
      SqlTokens.rewritePlaceholders(s)
    }
    (0 until 20).foreach(_ => texts.foreach(chain)) // warm the JIT
    val reps = 200
    val t0 = System.nanoTime()
    (0 until reps).foreach(_ => texts.foreach(chain))
    (System.nanoTime() - t0) / 1e3 / (reps * texts.size)
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Parquet files and bytes under a log-store directory. */
  private def storeStats(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    val files = if (!Files.exists(p)) Seq.empty else Files.walk(p).iterator.asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet")).toSeq
    Map("files" -> files.size.toLong, "bytes" -> files.map(Files.size).sum)
  }

  private def progress(what: String): Unit = System.err.println(
    f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs $what (job $job)")

  def run(): Map[String, Any] = {
    tracer.run = -1 // set-up spans belong to no job
    if (trace) tracer.enabled = true // setup spans only; no listener yet
    val setups = setup()
    tracer.enabled = false
    progress("sessions built")
    val setupSpans = tracer.spans.toVector
    tracer.spans.clear()
    val body = workload match {
      case "etl_job" => etlJob()
      case "pipeline_mix" => pipelineMix()
    }
    progress("set up")
    phase = "warmup"
    runJob(body)
    progress("warmed up")
    if (trace) {
      phase = "untraced"
      loop(seconds / 2, body)
      phase = "traced"
      tracer.start(spark.sparkContext)
      loop(seconds / 2, body)
      counters = tracer.finish()
    } else {
      phase = "measured"
      loop(seconds, body)
    }
    progress("measured")
    val classify = if (trace) classifyUs() else 0.0
    val dumped = dumps()
    progress("checked")
    tracer.spans.prependAll(setupSpans)
    val rss = vmHwmMb()
    spark.stop()
    Map(
      "workload" -> workload, "setup" -> setups, "attempted" -> attempted,
      "failed" -> failed, "checks" -> checks.toSeq,
      "ops" -> ops.toSeq.map(o => Map("kind" -> o.kind, "label" -> o.label,
        "stmt" -> o.stmt, "ms" -> o.ms, "phase" -> o.phase, "job" -> o.job) ++ o.extra),
      "peak_rss_mb" -> rss, "classify_us" -> classify, "dumps" -> dumped)
  }

  def writeSpans(path: String): Unit = if (trace) {
    val w = new java.io.PrintWriter(path)
    try tracer.spans.foreach { s =>
      val c = counters.get(s.id).map(_.toMap).getOrElse(Map.empty)
      w.println(mapper.writeValueAsString(Json.toJava(Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "run" -> s.run, "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++ s.attrs ++ c)))
    } finally w.close()
  }
}
