package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Sessions}
import graft.warehouse.{Fixtures, Jobs, Pipeline, PipelineDemo}

/** One benchmark run: set up a workload, time exactly one pass of its work
  * with one client (one driver thread, the next call only when the
  * previous one returned), check-relevant facts gathered after the timed
  * pass, and write the raw run record — per-op timings, setup timings,
  * output facts for the checks and, with `--trace 1`, the in-memory spans —
  * as one JSON file. `perfbench/run.py` turns the record into metrics and
  * checks the outputs.
  *
  * Usage: BenchMain --workload gates|dag-batches --seed n --trace 0|1
  *          --work dir --out record.json --cores n
  */
object BenchMain {

  /** Scale factor of the generated gate tables. */
  val GateSf = 0.001
  /** Incidents in the generated DAG corpus. */
  val CorpusRows = 30000
  /** Times the inputs are generated in set-up; `setup_s` takes the median. */
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, trace: Boolean,
                        work: Path, out: Path, cores: Int)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(get("workload"), get("seed").toLong, get("trace") == "1",
      Paths.get(get("work")).toAbsolutePath, Paths.get(get("out")), get("cores").toInt)
    Files.createDirectories(o.work)
    val record = o.workload match {
      case "gates"       => gates(o)
      case "dag-batches" => dagBatches(o)
      case w => sys.error(s"unknown workload '$w'")
    }
    Files.writeString(o.out, new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(record + ("peak_rss_kb" -> peakRssKb())))
  }

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** `VmHWM` of this JVM: its peak resident set, in kB. */
  def peakRssKb(): Long = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong
  }

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  def errorOf(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(300)}"

  /** Runs the timed pass `body` once — traced with `--trace 1` — and stamps
    * its window (epoch ms) on the map it returns. */
  private def timed(o: Opts, spark: SparkSession)(body: => Map[String, Any])
      : (Map[String, Any], Option[Trace]) = {
    val trace = if (o.trace) Some(new Trace(spark)) else None
    trace.foreach(_.install())
    val w0 = System.currentTimeMillis()
    try {
      val run = body
      (run + ("start_ms" -> w0) + ("end_ms" -> System.currentTimeMillis()), trace)
    } finally trace.foreach(_.uninstall())
  }

  /** Wall seconds of `body` run untraced and traced in turn, `rounds`
    * times each (untraced first), after one untimed warm-up call (the
    * first re-run of the calls is the slowest): the trace's cost on the
    * same calls. */
  private def abTrace(trace: Trace, rounds: Int)(body: Boolean => Unit)
      : Map[String, Seq[Double]] = {
    val plain = Seq.newBuilder[Double]
    val traced = Seq.newBuilder[Double]
    body(false)
    for (_ <- 0 until rounds) {
      val t0 = now(); body(false); plain += secs(t0)
      trace.install()
      val t1 = now()
      try body(true) finally trace.uninstall()
      traced += secs(t1)
    }
    Map("untraced_s" -> plain.result(), "traced_s" -> traced.result())
  }

  // ---------------------------------------------------------------- gates

  /** One gate: its builder call, then full materialization of the plan it
    * returns (`queryExecution.toRdd.count()`), each under its own job group.
    * Also returns the materialized RDD and its schema, for the digest taken
    * after the timed pass.
    */
  private def gateOp(spark: SparkSession, name: String, dir: String, traced: Boolean)
      : (Map[String, Any], Option[(RDD[InternalRow], StructType)]) = {
    val sc = spark.sparkContext
    val fn = SparkEntry.queries(name)
    val w0 = System.currentTimeMillis()
    val t0 = now()
    var t1 = t0
    try {
      sc.setJobGroup(s"gate:$name:build", name)
      val df = fn(spark, dir)
      t1 = now()
      sc.setJobGroup(s"gate:$name:exec", name)
      val rdd = df.queryExecution.toRdd
      val rows = rdd.count()
      val t2 = now()
      (Map("name" -> name, "start_ms" -> w0, "build_s" -> (t1 - t0) / 1e9,
        "exec_s" -> (t2 - t1) / 1e9, "s" -> (t2 - t0) / 1e9, "rows" -> rows,
        "ok" -> true,
        "phases" -> (if (traced) Trace.phases(df.queryExecution) else Map.empty)),
        Some((rdd, df.schema)))
    } catch {
      case t: Throwable if scala.util.control.NonFatal(t) =>
        (Map("name" -> name, "start_ms" -> w0, "s" -> secs(t0), "ok" -> false,
          "error" -> errorOf(t)), None)
    } finally sc.clearJobGroup()
  }

  /** The gates a pass runs: every third gate of the registry except every
    * twelfth (indices 0, 3, 6, 12, 15, 18, 24, ...), 33 of 132, so every
    * family keeps about a quarter of its gates. A full pass (about 60 s on
    * 4 cores, all fixed cost) does not fit one run's time budget next to
    * the preMaterialize it needs. */
  def gateSet: Seq[String] =
    SparkEntry.registry.map(_._1).zipWithIndex.collect {
      case (n, i) if i % 3 == 0 && i % 12 != 9 => n
    }

  def gates(o: Opts): Map[String, Any] = {
    val t0 = now()
    val spark = Sessions.local(o.cores.toString)
    val sessionS = secs(t0)
    val order = new scala.util.Random(o.seed).shuffle(gateSet)
    // The inputs are written SetupReps times, each copy timed; the pass
    // reads the last copy.
    val inputsS = Seq.newBuilder[Double]
    var dir = ""
    for (r <- 0 until SetupReps) {
      val t = now()
      dir = o.work.resolve(s"gates-$r").toString
      GateData.write(spark, dir, GateSf, 42L)
      inputsS += secs(t)
    }
    // Bytes the inter-stage cache holds on disk (it lives under the JVM's
    // temp dir and grows by every table a preMaterialize writes).
    def interStageBytes(): Long = {
      val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
      val s = Files.list(tmp)
      try s.filter(_.getFileName.toString.startsWith("graft_interstage_"))
        .mapToLong(du(_)).sum()
      finally s.close()
    }
    val outputs = Seq.newBuilder[(String, (RDD[InternalRow], StructType))]
    val (run, trace) = timed(o, spark) {
      val b0 = interStageBytes()
      val m0 = now()
      val matErr =
        try { SparkEntry.preMaterialize(spark, dir); None }
        catch { case t: Throwable if scala.util.control.NonFatal(t) => Some(errorOf(t)) }
      val matS = secs(m0)
      val matBytes = interStageBytes() - b0
      val p0 = now()
      val ops = order.map { name =>
        val (op, out) = gateOp(spark, name, dir, o.trace)
        out.foreach(outputs += name -> _)
        op
      }
      val passS = secs(p0)
      Map("materialize_s" -> matS, "materialize_error" -> matErr,
        "materialize_bytes" -> matBytes, "wall_s" -> passS, "ops" -> ops)
    }
    // Output digests, after the timed pass: a second job over each gate's
    // materialized RDD, whose shuffle stages are already done.
    val digests = outputs.result().map { case (name, (rdd, schema)) =>
      spark.sparkContext.setJobGroup(s"gate:$name:check", name)
      try name -> RowDigest.hex(rdd.mapPartitions(it => Iterator(RowDigest.sum(it, schema)))
        .fold(0L)(_ + _))
      catch { case t: Throwable if scala.util.control.NonFatal(t) => name -> errorOf(t) }
      finally spark.sparkContext.clearJobGroup()
    }.toMap
    // The trace's own cost: the first gates of the order, re-run untraced
    // and traced in turn.
    val overhead = trace.map { tr =>
      abTrace(tr, 2)(traced => order.take(4).foreach(gateOp(spark, _, dir, traced)))
    }
    spark.stop()
    Map("workload" -> o.workload, "seed" -> o.seed, "sf" -> GateSf,
      "setup" -> Map("session_s" -> sessionS, "inputs_s" -> inputsS.result()),
      "run" -> run, "digests" -> digests, "overhead_ab" -> overhead,
      "trace" -> trace.map(_.rows))
  }

  // ---------------------------------------------------------------- DAG

  val splitDates: Seq[String] = Seq("2021-01-01", "2022-01-01")

  def dagBatches(o: Opts): Map[String, Any] = {
    val base = o.work.resolve("dag")
    deleteTree(base)
    Files.createDirectories(base)
    val t0 = now()
    val spark = PipelineDemo.buildSession(base, Some(CorpusRows), fromMarker = false)
    val sessionS = secs(t0)
    // Corpus selected by the seed: a row-id offset into the per-row-seeded
    // LFB generator (ids stay below 1e9, so every column keeps its type).
    val offset = (o.seed % 1000) * 1000000L
    val inputsS = Seq.newBuilder[Double]
    val splitS = Seq.newBuilder[Double]
    var batches: Seq[Pipeline.Inputs] = Nil
    var corpus = ""
    for (r <- 0 until SetupReps) {
      val dir = base.resolve(s"inputs$r")
      val ti = now()
      Files.createDirectories(dir)
      val aux = Fixtures.writeScaled(dir, 1)
      corpus = dir.resolve("corpus").toString
      Fixtures.writeScaledLfbSpark(spark, corpus, CorpusRows, startId = offset)
      inputsS += secs(ti)
      val ts = now()
      Jobs.batchSplit(spark, Seq(corpus), dir.resolve("batches").toString,
        "DateOfCall", "dd-MMM-yy", splitDates)
      splitS += secs(ts)
      batches = (1 to splitDates.size + 1).map(b =>
        aux.copy(lfbCsv = dir.resolve(s"batches/$b").toString))
    }

    // The timed pass, in an empty staging dir and warehouse: the extract
    // stage's own four jobs stage batch 2 (the cumulative batches 1-2) —
    // timed as `materialize_s` — and then Pipeline.run of batch 3 lands the
    // last third onto them (`wall_s`): its extract anti-join-appends, and
    // every later stage rebuilds from all three batches. A full
    // Pipeline.run of batch 2 first would cost as much again and does not
    // fit one run's time budget.
    val staging = base.resolve("staging")
    val paths = Pipeline.Paths(staging.toString)
    val (run, trace) = timed(o, spark) {
      val seed = batches(1)
      val m0 = now()
      val seedErr =
        try {
          Jobs.lfbExtract(spark, seed.lfbCsv, paths.lfbRaw)
          Jobs.aqExtract(spark, seed.aqCsvs, paths.aqRaw)
          Jobs.extract(spark, seed.weatherCsv, paths.weatherRaw, Seq("date"))
          Jobs.extract(spark, seed.wbCsv, paths.wbRaw, Seq("Ward", "Year"))
          None
        } catch { case t: Throwable if scala.util.control.NonFatal(t) => Some(errorOf(t)) }
      val matS = secs(m0)
      // Untimed: the staged rows, for the seed's check and the append count.
      val seeded = if (seedErr.isEmpty) spark.read.parquet(paths.lfbRaw).count() else 0L
      val batch =
        if (seedErr.nonEmpty) Map("batch" -> 3, "ok" -> false,
          "error" -> "staging seed failed", "stages" -> Nil, "wall_s" -> 0.0)
        else {
          spark.sparkContext.setJobGroup("dag:batch3", "batch 3")
          val w0 = System.currentTimeMillis()
          val tb = now()
          val res =
            try Right(Pipeline.run(spark, batches(2), paths))
            catch { case t: Throwable if scala.util.control.NonFatal(t) => Left(errorOf(t)) }
            finally spark.sparkContext.clearJobGroup()
          val wall = secs(tb)
          val w1 = System.currentTimeMillis()
          res match {
            case Right(stages) =>
              Map("batch" -> 3, "start_ms" -> w0, "end_ms" -> w1,
                "wall_s" -> wall, "ok" -> true,
                "stages" -> stages.map { case (st, x) => Map("name" -> st, "s" -> x) })
            case Left(err) =>
              Map("batch" -> 3, "start_ms" -> w0, "end_ms" -> w1, "wall_s" -> wall,
                "ok" -> false, "error" -> err, "stages" -> Nil)
          }
        }
      Map("materialize_s" -> matS, "materialize_error" -> seedErr,
        "seeded_rows" -> seeded, "batch" -> batch, "wall_s" -> batch("wall_s"))
    }

    // Output facts for the checks, after the timed pass.
    val facts: Map[String, Any] =
      if (run("batch").asInstanceOf[Map[String, Any]]("ok") != true) Map.empty
      else {
        val fact = spark.table("lfb_call")
        val cols = fact.columns.sorted.map(col).toSeq
        val fp = fact.select(sum(xxhash64(cols: _*).cast("decimal(38,0)")))
          .head().get(0).toString
        val files = {
          val st = Files.walk(base.resolve("warehouse/lfb_call"))
          try st.filter(_.getFileName.toString.endsWith(".parquet")).count()
          finally st.close()
        }
        Map("fingerprint" -> fp, "fact_files" -> files,
          "fact_rows" -> fact.count(),
          "appended_rows" -> (spark.read.parquet(paths.lfbRaw).count() -
            run("seeded_rows").asInstanceOf[Long]),
          "warehouse_bytes" -> du(base.resolve("warehouse")),
          "staging_bytes" -> du(staging))
      }
    // The trace's own cost: the analytics aggregates rebuilt from the fact
    // table, untraced and traced in turn.
    val overhead = trace.map(abTrace(_, 2)(_ =>
      graft.warehouse.Aggregates.run(spark, "lfb_call", "analytics")))
    spark.stop()
    Map("workload" -> o.workload, "seed" -> o.seed, "rows" -> CorpusRows,
      "offset" -> offset, "split_dates" -> splitDates, "corpus_dir" -> corpus,
      "setup" -> Map("session_s" -> sessionS, "inputs_s" -> inputsS.result(),
        "split_s" -> splitS.result()),
      "run" -> (run ++ facts), "overhead_ab" -> overhead,
      "trace" -> trace.map(_.rows))
  }
}
