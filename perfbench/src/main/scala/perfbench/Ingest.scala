package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Tables
import graft.operators.{Durability, Lake, Namespace}
import graft.sources.CommitLog
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Ev
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** lake_ingest: a write-beside-read stream into a fresh commit-log
  * table. Each step commits one generated batch, runs one read from the
  * read mix (the kinds in turn, their keys and versions seeded), pushes one event micro-batch through
  * `commitLogSink` and `cdcUpsert`, and calls `maybeCheckpoint`; every
  * `MaintEvery` steps a staged-but-uncommitted directory is left
  * behind and `vacuumOrphans` and `scrubCycle` run. Step 0 runs every
  * read kind once and is the cold pass; `WarmupSteps` more run before
  * the steady clock starts.
  *
  * Every call and its answer go to the event log in the result file;
  * `run.py` replays the log against the generator's batches to check
  * each answer, the per-version contents and the final CDC state. */
final class Ingest(spark: SparkSession, o: Main.Opts, tracer: Option[Tracer]) {
  private val MaxReplay = 4
  private val MaintEvery = 4
  private val ScrubBudget = 2
  /** Steps after the cold one that run before the clock starts: the
    * first micro-batches still pay for JIT and stream start-up. */
  private val WarmupSteps = 2
  private val T0 = 1700000000000L
  private val ReadKinds = Seq("point", "asof", "quota", "footer")

  private val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
  private val root = s"${o.work}/lake"
  private val table = s"$root/table"
  private val sink = s"$root/sink"
  private val cdcState = s"$root/cdc_state"
  private val log = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  private val rng = new scala.util.Random(o.seed)

  private def traced[T](name: String, layer: String)(body: => T): T =
    tracer.fold(body)(_.span(name, layer)(body))

  /** Runs and logs one call; a throw is logged as a failed call. */
  private def timed(step: Int, kind: String, layer: String)(
      body: mutable.LinkedHashMap[String, Any] => Unit): Unit = {
    val rec = mutable.LinkedHashMap[String, Any]("step" -> step, "kind" -> kind)
    val t0 = System.nanoTime()
    try traced(kind, layer)(body(rec))
    catch {
      case e: Throwable =>
        rec("error") = Main.errorText(e)
        System.err.println(s"PERFBENCH FAILURE lake_ingest $kind step=$step: ${Main.errorText(e)}")
        e.printStackTrace()
    }
    rec("wall_s") = (System.nanoTime() - t0) / 1e9
    if (tracer.exists(_.enabled)) rec("call") = tracer.get.calls.lastIndexWhere(_.parent < 0)
    log += rec
  }

  private def agg(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), coalesce(sum(col("k")), lit(0L)),
      coalesce(sum(col("amount_cents")), lit(0L)))

  private def longs(r: Row): Seq[Long] = (0 until r.length).map(r.getLong)

  /** The read's action; a traced call plans first, as its own span. */
  private def collect(df: DataFrame): Array[Row] = {
    if (tracer.exists(_.enabled))
      traced("spark.plan", "spark")(df.queryExecution.executedPlan)
    traced("read.action", "CommitLog")(df.collect())
  }

  private def read(step: Int, kind: String, maxKey: Long): Unit =
    timed(step, s"read_$kind", kind match {
      case "quota" => "Namespace"
      case "footer" => "Lake"
      case _ => "CommitLog"
    }) { rec =>
      kind match {
        case "point" =>
          val key = (rng.nextDouble() * maxKey).toLong
          rec("key") = key
          val snap = traced("CommitLog.snapshot", "CommitLog")(CommitLog.snapshot(spark, table))
          val rows = collect(
            snap.filter(col("k") === key).select("k", "user_id", "amount_cents", "note"))
          rec("rows") = rows.toSeq.map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        case "asof" =>
          val j = rng.nextInt(step + 1)
          rec("as_of_step") = j
          val snap = traced("CommitLog.snapshot", "CommitLog")(
            CommitLog.snapshotAsOf(spark, table, T0 + j * 1000L))
          rec("agg") = longs(collect(agg(snap))(0))
        case "quota" =>
          val (entries, rows) = traced("Namespace.quotaUsage", "Namespace")(
            Namespace.quotaUsage(spark, new Path(table)))
          rec("entries") = entries
          rec("quota_rows") = rows
        case "footer" =>
          val active = CommitLog.activeFiles(fs, table).map(p => s"$table/$p")
          rec("footer_rows") = traced("Lake.footerRows", "Lake")(Lake.footerRows(spark, active))
      }
    }

  def run(): mutable.LinkedHashMap[String, Any] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    fs.delete(new Path(root), true)
    fs.mkdirs(new Path(root))

    // generated inputs, held in memory before the clock starts: step
    // 0's before the cold pass (alike in every JVM), the rest after it
    val batchesDf = Tables.load(spark, o.data, "ingest_batches")
    val eventsDf = Tables.load(spark, o.data, "stream_events")
    val schema = batchesDf.drop("batch").schema
    def inputs(steps: Column => Column): (Map[Int, java.util.List[Row]], Map[Int, Seq[Ev]]) = (
      batchesDf.filter(steps(col("batch"))).collect()
        .groupBy(_.getAs[Int]("batch"))
        .map { case (b, rs) => b -> rs.toSeq.map(r => Row(r.getAs[Long]("k"), r.getAs[Long]("user_id"),
          r.getAs[Long]("amount_cents"), r.getAs[String]("note"))).asJava },
      eventsDf.filter(steps(col("mb"))).collect()
        .groupBy(_.getAs[Int]("mb"))
        .map { case (b, rs) => b -> rs.toSeq.map(r => Ev(r.getAs[Long]("event_id"),
          r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("user_id"),
          r.getAs[String]("event_type"), r.getAs[Double]("value"))) })
    var (batches, events) = inputs(_ === 0)
    val batchRows = batches(0).size.toLong

    val sinkIn = MemoryStream[Ev]
    val cdcIn = MemoryStream[Ev]
    val sinkQ = StreamingOps.commitLogSink(sinkIn.toDF(), sink, s"$root/ck_sink")
    val cdcQ = StreamingOps.cdcUpsert(cdcIn.toDF(), cdcState, s"$root/ck_cdc")

    def step(i: Int, kinds: Seq[String]): Unit = {
      val ts = T0 + i * 1000L
      timed(i, "commit", "CommitLog") { rec =>
        val df = spark.createDataFrame(batches(i), schema)
        rec("version") = traced("CommitLog.writeCommit", "CommitLog")(
          CommitLog.writeCommit(spark, table, df, f"data/b$i%05d", ts))
        rec("batch") = i
      }
      kinds.foreach(k => read(i, k, (i + 1) * batchRows))
      timed(i, "stream", "StreamingOps") { rec =>
        traced("StreamingOps.batch", "StreamingOps") {
          sinkIn.addData(events(i))
          cdcIn.addData(events(i))
          sinkQ.processAllAvailable()
          cdcQ.processAllAvailable()
        }
        rec("mb") = i
      }
      timed(i, "checkpoint", "CommitLog") { rec =>
        rec("version") = traced("CommitLog.maybeCheckpoint", "CommitLog")(
          CommitLog.maybeCheckpoint(spark, table, ts + 500L, MaxReplay))
      }
      if (i % MaintEvery == 0) {
        // a writer that staged data and died before committing
        spark.createDataFrame(batches(i), schema).write.mode("overwrite")
          .parquet(s"$table/data/orphan-$i")
        timed(i, "vacuum", "CommitLog") { rec =>
          rec("deleted") = traced("CommitLog.vacuumOrphans", "CommitLog")(
            CommitLog.vacuumOrphans(fs, table, graceMs = 0L))
        }
        timed(i, "scrub", "Durability") { rec =>
          val (picked, bad) = traced("Durability.scrubCycle", "Durability")(
            Durability.scrubCycle(spark, table, ScrubBudget))
          rec("picked") = picked
          rec("bad") = bad
        }
      }
    }

    tracer.foreach(_.enabled = true)
    val c0 = System.nanoTime()
    step(0, ReadKinds)
    val coldS = (System.nanoTime() - c0) / 1e9
    // a cold-only JVM reports step 0's answers; what it wrote is what
    // the run's step 0 writes, which the run reads back below
    if (Main.coldOnly(o))
      return mutable.LinkedHashMap[String, Any]("cold_pass_s" -> coldS, "steps" -> 1, "events" -> log)
    val l0 = System.nanoTime()
    val (moreBatches, moreEvents) = inputs(_ > 0)
    batches ++= moreBatches
    events ++= moreEvents
    val nSteps = math.min(batches.size, events.size)
    var i = 1
    def next(): Unit = {
      // traced and untraced steps alternate (maintenance steps are
      // always traced) so the tracing overhead is measured in-run
      tracer.foreach(_.enabled = i % 2 == 1 || i % MaintEvery == 0)
      step(i, Seq(ReadKinds(i % ReadKinds.size)))
      i += 1
    }
    val w0 = System.nanoTime()
    while (i <= WarmupSteps) next()
    val s0 = System.nanoTime()
    val deadline = s0 + (o.seconds * 1e9).toLong
    while (System.nanoTime() < deadline && i < nSteps) next()
    val steadyS = (System.nanoTime() - s0) / 1e9
    require(i < nSteps, s"generated $nSteps steps, fewer than the run consumed")
    sinkQ.stop()
    cdcQ.stop()
    tracer.foreach { t => t.enabled = false; t.drain() }

    // verification reads, after the clock: every version of the table,
    // every sink version, the final CDC state, and the live snapshot
    // written once for the space amplification
    val v0 = System.nanoTime()
    val commits = CommitLog.commits(fs, table)
    val versions = commits.map { c =>
      Map("version" -> c.version, "checkpoint" -> c.isCheckpoint,
        "adds" -> c.adds, "agg" -> longs(agg(CommitLog.snapshot(spark, table, c.version)).collect()(0)))
    }
    val sinkVersions = CommitLog.commits(fs, sink).map { c =>
      val df = spark.read.parquet(c.adds.map(a => s"$sink/$a"): _*)
      val r = df.agg(count(lit(1)), coalesce(sum(col("event_id")), lit(0L))).collect()(0)
      Map("version" -> c.version, "rows" -> r.getLong(0), "sum_event_id" -> r.getLong(1))
    }
    spark.read.parquet(cdcState).write.mode("overwrite").parquet(s"${o.work}/out/cdc_state")
    val live = s"$root/live_once"
    CommitLog.snapshot(spark, table).coalesce(1).write.mode("overwrite").parquet(live)
    def bytes(p: String): Long =
      Main.files(new java.io.File(p)).filterNot(_.getName.endsWith(".crc")).map(_.length()).sum
    val dataFiles = Main.files(new java.io.File(s"$table/data")).count(_.getName.endsWith(".parquet"))

    val out = mutable.LinkedHashMap[String, Any](
      "cold_pass_s" -> coldS, "steady_wall_s" -> steadyS, "steps" -> i,
      "warmup_steps" -> WarmupSteps,
      "batch_rows" -> batchRows, "max_replay" -> MaxReplay, "t0_ms" -> T0,
      "events" -> log, "versions" -> versions, "sink_versions" -> sinkVersions,
      "table_bytes" -> bytes(table), "live_bytes" -> bytes(live),
      "data_files" -> dataFiles,
      "untimed_s" -> Map("load_inputs" -> (w0 - l0) / 1e9, "warmup" -> (s0 - w0) / 1e9,
        "verify" -> (System.nanoTime() - v0) / 1e9))
    tracer.foreach(t => out("trace") = Map("calls" -> Traces.calls(t)))
    out
  }
}
