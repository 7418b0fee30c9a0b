package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftConf, SparkEntry, Tables}
import graft.functions.Similarity
import graft.ops.{Dedup, Pipeline, StageCache}

/** JVM side of the benchmark: one workload in one Spark session at
  * local[cores], driven by one submitting thread (a closed loop with one
  * client). Writes a JSON artifact that `run.py` checks and reports.
  *
  *   perfbench.Main <workload> <dataDir> <workDir> <artifact.json>
  *                  <seed> <seconds> <trace 0|1> <cores>
  *
  * `seconds` <= 0 runs exactly one operation (the smoke mode).
  */
object Main {
  /** Set-up cycles per run; `setup_s` is their median. */
  val SetupCycles = 3
  /** Curation: eval-set variants (doc_id % 97 == variant) and shard size. */
  val EvalVariants = 4
  val DocsPerShard = 64L
  /** Append: the held-out pool is every doc with doc_id % PoolStride ==
    * PoolStride - 1, split into AppendBatches batches. */
  val PoolStride = 10
  val AppendBatches = 4

  /** One operation's outcome: its wall time and what the checks compare. */
  final case class Outcome(key: String, ms: Double, digest: Map[String, Any])

  final case class Op(key: String, run: Boolean => Outcome)

  def main(argv: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, outPath, seedS, secondsS, traceS,
      coresS) = argv
    val (seed, seconds, traced, cores) =
      (seedS.toLong, secondsS.toDouble, traceS == "1", coresS.toInt)
    // java.util.Random's first draws are correlated across small seeds
    val rnd = new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())
    val wl: Workload = workload match {
      case "interactive" => new Interactive(dataDir, workDir, cores, rnd)
      case "curation" => new Curation(dataDir, seed)
      case "append" => new Append(dataDir, rnd)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // set-up, repeated: session start, opening the inputs, warm-up kernels
    var spark: SparkSession = null
    val setupS = (1 to SetupCycles).map { _ =>
      if (spark != null) { StageCache.clear(); spark.stop() }
      timed {
        spark = session(cores, workDir, traced)
        wl.open(spark)
        warmKernels(spark, dataDir)
      }._2 / 1e3
    }
    // the workload's own warm-up operations, the first to run its code:
    // part of the set-up time, outside the measured window
    val (warm, warmMs) = timed(wl.warmup())

    val trace = if (traced) Some(new Trace) else None
    trace.foreach(spark.sparkContext.addSparkListener)
    val mem = if (traced) Some(new MemSampler(spark)) else None
    val (hits0, misses0) = (StageCache.hits, StageCache.misses)

    val outcomes = mutable.ArrayBuffer.empty[Outcome]
    val failures = mutable.ArrayBuffer.empty[String]
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    sc = spark.sparkContext
    phases = Some(mutable.Map.empty[String, Double].withDefaultValue(0.0))
    record = Some(windows)
    checkNs = 0L
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def more = if (seconds > 0) elapsed < seconds else outcomes.isEmpty
    while (more) {
      // the loop ends only between rounds, so every run of a workload
      // measures the same multiset of operations
      wl.round().iterator.takeWhile(_ => seconds > 0 || outcomes.isEmpty).foreach { op =>
        val w0 = System.nanoTime()
        try outcomes += op.run(traced) catch {
          case e: Throwable =>
            failures += s"${op.key}: $e"
            outcomes += Outcome(op.key, (System.nanoTime() - w0) / 1e6,
              Map("error" -> e.toString))
        }
      }
    }
    // the benchmark's own output checks do not count against the window
    val windowS = elapsed - checkNs / 1e9
    record = None
    val (hits, misses) = (StageCache.hits - hits0, StageCache.misses - misses0)
    mem.foreach(_.stop())
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)

    val art = mutable.LinkedHashMap.empty[String, Any]
    val conf = spark.conf
    art("conf") = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions").toInt,
      "aqe" -> conf.get("spark.sql.adaptive.enabled").toBoolean,
      "checkpoints" -> (if (spark.sparkContext.getCheckpointDir.isDefined)
        "reliable" else "local"),
      "spark" -> spark.version, "java" -> sys.props("java.version"),
      "seconds" -> seconds) ++ wl.conf
    art("setup_s") = setupS
    art("warmup_s") = warmMs / 1e3
    art("warmup") = warm
    art("checks") = wl.checks
    art("window_s") = windowS
    art("ops") = outcomes.map(o => Map("key" -> o.key, "ms" -> o.ms) ++ o.digest)
    art("failures") = failures.toSeq
    art("stagecache") = Map("hits" -> hits, "misses" -> misses)
    trace.foreach { t =>
      art("trace") = t.summary(windows.toSeq) ++
        phases.get.map { case (k, v) => s"phase.$k" -> v } ++
        Map("heap_peak_mb" -> mem.get.heapPeakMb,
          "storage_peak_mb" -> mem.get.storagePeakMb) ++
        wl.traceExtras
    }
    spark.stop()
    Json.write(outPath, art.toMap)
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Time spent in `unclocked` since the measured window opened. */
  private var checkNs = 0L

  /** Runs the benchmark's own check work (counts and hashes of an
    * operation's outputs) off the measured window's clock. */
  def unclocked[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally checkNs += System.nanoTime() - t0
  }

  // Set while the measured window runs: the windows of its operations
  // (each operation's jobs carry its index as the Trace.OpKey local
  // property) and the traced phase totals.
  private var record: Option[mutable.ArrayBuffer[(Long, Long)]] = None
  private var phases: Option[mutable.Map[String, Double]] = None
  private var sc: org.apache.spark.SparkContext = _

  /** Runs and times one operation: `mk` builds the result frame and `act`
    * runs it. In a traced run the three phases are timed apart: the
    * builder (including the eager barriers inside it), physical planning
    * of the final plan, and its execution. */
  def timedOp[T](traced: Boolean)(mk: => DataFrame)(act: DataFrame => T): (T, Double) = {
    def body: T =
      if (!traced) act(mk)
      else {
        val (df, buildMs) = timed(mk)
        val (_, planMs) = timed(df.queryExecution.executedPlan)
        val (r, execMs) = timed(act(df))
        phases.foreach { p =>
          p("build_ms") += buildMs; p("optimize_ms") += planMs
          p("exec_ms") += execMs
        }
        r
      }
    record match {
      case None => timed(body)
      case Some(ws) =>
        sc.setLocalProperty(Trace.OpKey, ws.size.toString)
        val w0 = System.currentTimeMillis()
        try timed(body) finally {
          ws += ((w0, System.currentTimeMillis()))
          sc.setLocalProperty(Trace.OpKey, null)
        }
    }
  }

  def session(cores: Int, workDir: String, traced: Boolean): SparkSession = {
    val s = GraftConf.localProfile(SparkSession.builder(), cores)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      // deep enough that a job's call site reaches the program's frames
      .config("spark.callstack.depth", if (traced) "200" else "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The kernels graft.Bench warms before its suite: codegen, shuffle,
    * parquet, md5 and vector arithmetic. */
  def warmKernels(spark: SparkSession, dir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(1000000).groupBy(col("id") % 3).count().collect()
    Tables.documents(spark, dir)
      .selectExpr("md5(text) AS h", "split(text, ' ') AS t")
      .selectExpr("count(distinct h)", "sum(size(t))").collect()
    Tables.embeddings(spark, dir)
      .selectExpr("sum(aggregate(cast(embedding as array<double>), 0.0d, " +
        "(a, x) -> a + x * x))").collect()
  }

  def sha(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  trait Workload {
    def open(spark: SparkSession): Unit
    /** Operations run before the measured window; returns what the checks
      * need from them. */
    def warmup(): Map[String, Any]
    /** The next operations to run, in order. */
    def round(): Seq[Op]
    def conf: Map[String, Any]
    /** What the output checks need beyond the measured operations. */
    def checks: Map[String, Any] = Map.empty
    def traceExtras: Map[String, Double] = Map.empty
  }

  /** medvedi's own traffic: every `q*` query of the registry, one pass per
    * round in a seeded order, each ending in `.count()` as graft.Bench
    * does. */
  final class Interactive(dir: String, workDir: String, cores: Int,
      rnd: scala.util.Random) extends Workload {
    private var spark: SparkSession = _
    private val queries = SparkEntry.queries
    private val results = s"$workDir/results"
    val names: Seq[String] = queries.keys.filter(_.matches("q\\d.*")).toSeq.sorted
    def open(s: SparkSession): Unit = {
      spark = s
      Tables.all.foreach(t => Tables(s, dir, t).schema)
    }
    /** Two passes, `cores` queries at a time (they are independent and
      * these passes are not measured): the first collects every result
      * for the oracle compare, the second runs each query as measured. */
    def warmup(): Map[String, Any] = {
      new java.io.File(results).mkdirs()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
      def pass[T](f: String => T): Seq[(String, T)] =
        rnd.shuffle(names).map(n => pool.submit(() => n -> f(n))).map(_.get())
      try {
        val status = pass { n =>
          try {
            val df = queries(n)(spark, dir)
            Json.write(s"$results/$n.json", ResultJson(df.schema, df.collect()))
            "ok"
          } catch { case e: Throwable => s"error: $e" }
        }
        pass(n => scala.util.Try(queries(n)(spark, dir).count()))
        Map("queries" -> status.toMap)
      } finally pool.shutdown()
    }
    def round(): Seq[Op] = rnd.shuffle(names).map(n => Op(n, traced => {
      val (c, ms) = timedOp(traced)(queries(n)(spark, dir).groupBy().count())(
        _.head().getLong(0))
      Outcome(n, ms, Map("rows" -> c))
    }))
    override def checks: Map[String, Any] =
      Map("results_dir" -> results,
        "oracle" -> SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) })
    def conf: Map[String, Any] = Map("queries" -> names.size)
  }

  /** Inputs shared by the two curation workloads. */
  abstract class Corpus(dir: String) extends Workload {
    protected var spark: SparkSession = _
    protected var docs: DataFrame = _
    def open(s: SparkSession): Unit = {
      spark = s
      docs = Tables.documents(s, dir)
      docs.schema
    }
  }

  /** The batch curation path: a cold curateStages with the semantic stage
    * on (auto banding), then the shard assignment. The seed picks one of
    * EvalVariants eval sets. The warm-up runs the same operation once. */
  final class Curation(dir: String, seed: Long) extends Corpus(dir) {
    val variant: Int = Math.floorMod(seed, EvalVariants.toLong).toInt
    private var lastStages: Seq[(String, DataFrame)] = Nil
    private def op = Op(s"eval$variant", traced => {
      StageCache.clearTransient()
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val (rows, ms) = timedOp(traced)({
        lastStages = Pipeline.curateStages(
          docs.filter(col("doc_id") % 97 =!= variant),
          docs.filter(col("doc_id") % 97 === variant),
          embeddings = Some(emb), embedBands = Pipeline.AutoBands)
        Pipeline.shardAssignment(lastStages.last._2, DocsPerShard)
          .select(col("doc_id"), col("shard"))
      })(_.collect())
      Outcome(s"eval$variant", ms, unclocked(Map(
        "survivors" -> lastStages.map { case (n, df) => n -> df.count() }.toMap,
        "hash" -> sha(rows.map(r => s"${r.getLong(0)}:${r.getLong(1)}").sorted))))
    })
    def warmup(): Map[String, Any] = {
      val o = op.run(false)
      Map("key" -> o.key, "ms" -> o.ms) ++ o.digest
    }
    def round(): Seq[Op] = Seq(op)
    def conf: Map[String, Any] = Map("eval_variant" -> variant,
      "docs" -> docs.count(), "embeddings" -> Tables.embeddings(spark, dir).count())
    /** Of the last operation: candidate vs verified pairs of the token
      * near-dup stage, the survivors of every stage, and the semantic
      * stage's banded-cosine kernel forced on its own. */
    override def traceExtras: Map[String, Double] = {
      val stages = lastStages.toMap
      val exact = stages("exact_kept")
      val cand = Dedup.lshCandidatePairs(exact, Pipeline.DefaultBands,
        Pipeline.DefaultRowsPerBand).count()
      val ver = Dedup.verifiedCandidatePairs(exact, Pipeline.DefaultBands,
        Pipeline.DefaultRowsPerBand, minJaccard = 0.5).count()
      Map("dedup.candidate_pairs" -> cand.toDouble,
        "dedup.verified_pairs" -> ver.toDouble,
        "similarity.kernel_s" -> similarityKernelS(stages("neardup_kept"))) ++
        lastStages.map { case (n, df) => s"pipeline.$n.survivors" -> df.count().toDouble }
    }
    /** Median wall time of `Similarity.bandedNearDupPairs` over the
      * semantic stage's input (the near-dup survivors' vectors, with the
      * auto band shape and cosine gate `curateStages` uses), forced alone.
      * Inside an operation the kernel is a lazy plan that
      * `Dedup.clusterPairs` forces, so its time is part of `dedup`. */
    private def similarityKernelS(survivors: DataFrame): Double = {
      val vecs = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
        .join(survivors.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        .localCheckpoint()
      val (bands, planes) = Pipeline.autoBandShape(vecs.count())
      val times = (1 to 3).map(_ => timed(Similarity.bandedNearDupPairs(vecs,
        nBands = bands, planesPerBand = planes, dim = 64, minCosine = 0.4)
        .count())._2 / 1e3)
      times.sorted.apply(1)
    }
  }

  /** The write path: appendCurated of held-out batches against one fixed
    * corpus snapshot. The seed orders the batches; the first builds the
    * per-version corpus state (warm-up), the rest reuse it. */
  final class Append(dir: String, rnd: scala.util.Random) extends Corpus(dir) {
    private val order = rnd.shuffle((0 until AppendBatches).toList)
    private var next = 0
    private def corpus = docs.filter(col("doc_id") % PoolStride =!= PoolStride - 1)
    private def op(k: Int) = Op(s"batch$k", traced => {
      val batch = docs.filter(col("doc_id") % PoolStride === PoolStride - 1 &&
        expr(s"doc_id div $PoolStride") % AppendBatches === k)
      val (rows, ms) = timedOp(traced)(Pipeline.appendCurated(corpus, batch,
        docs.filter(col("doc_id") % 97 === 0)).select(col("doc_id")))(_.collect())
      val ids = rows.map(_.getLong(0)).sorted
      Outcome(s"batch$k", ms, unclocked(Map("docs" -> batch.count(),
        "accepted" -> ids.length, "hash" -> sha(ids.map(_.toString)))))
    })
    /** Cache counters and outcome of the next batch. */
    private def counted(): Map[String, Any] = {
      val (h, m) = (StageCache.hits, StageCache.misses)
      val o = round().head.run(false)
      Map("key" -> o.key, "ms" -> o.ms, "hits" -> (StageCache.hits - h),
        "misses" -> (StageCache.misses - m)) ++ o.digest
    }
    def warmup(): Map[String, Any] = {
      StageCache.clearTransient()
      Map("state_build" -> counted(), "reuse" -> counted())
    }
    def round(): Seq[Op] = {
      val k = order(next % AppendBatches)
      next += 1
      Seq(op(k))
    }
    def conf: Map[String, Any] = Map("corpus_docs" -> corpus.count(),
      "pool_docs" -> (docs.count() - corpus.count()), "batches" -> AppendBatches)
  }
}

/** Samples, every 50 ms, the live heap left after the last collection
  * (summed over the heap pools) and block-manager storage use. */
final class MemSampler(spark: SparkSession) {
  import scala.jdk.CollectionConverters._
  @volatile private var running = true
  @volatile var heapPeakMb = 0.0
  @volatile var storagePeakMb = 0.0
  private val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      p.getCollectionUsage != null).toSeq
  private val th = new Thread(() => {
    while (running) {
      heapPeakMb = heapPeakMb max
        pools.map(_.getCollectionUsage.getUsed / 1048576.0).sum
      storagePeakMb = storagePeakMb max spark.sparkContext.getExecutorMemoryStatus
        .values.map { case (max, free) => (max - free) / 1048576.0 }.sum
      Thread.sleep(50)
    }
  })
  th.setDaemon(true)
  th.start()
  def stop(): Unit = { running = false; th.join() }
}

/** A collected result as JSON: column names with type tags, and rows whose
  * values keep their exact value (doubles in shortest round-trip form,
  * decimals as strings, timestamps as microseconds since the epoch). */
object ResultJson {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  private def tag(t: DataType): String = t match {
    case _: DecimalType => "decimal"
    case DateType => "date"
    case TimestampType | TimestampNTZType => "timestamp"
    case FloatType | DoubleType => "double"
    case ArrayType(e, _) => s"array<${tag(e)}>"
    case _ => "plain"
  }

  private def value(v: Any): Any = v match {
    case null => null
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else d
    case f: Float => value(f.toDouble)
    case b: java.math.BigDecimal => b.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.toPlainString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp =>
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
    case t: java.time.LocalDateTime =>
      value(t.toInstant(java.time.ZoneOffset.UTC))
    case s: scala.collection.Seq[_] => s.map(value)
    case b: Byte => b.toInt
    case s: Short => s.toInt
    case x => x
  }

  def apply(schema: StructType, rows: Array[Row]): Map[String, Any] = Map(
    "columns" -> schema.fields.map(f => Seq(f.name, tag(f.dataType))).toSeq,
    "rows" -> rows.map(r => r.toSeq.map(value)).toSeq)
}

/** Minimal JSON writer for the artifact (maps, sequences, scalars). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => render(x.toString)
  }
  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v))
}
