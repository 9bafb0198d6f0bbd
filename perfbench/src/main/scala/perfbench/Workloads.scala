package perfbench

import java.security.MessageDigest

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import graft.Tables
import graft.embed.Embedder
import graft.pipeline.{Continuous, Ingest}
import graft.query.Retrieval
import graft.text.{Chunker, CleanText}
import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** What one workload run produced: set-up times, the measured operations
  * and anything the report needs besides. Correctness is judged by the
  * caller from each operation's `observed` (and, for asks, `expected`).
  */
final case class Outcome(setupS: Double, setupDetail: Map[String, Any], ops: Seq[Map[String, Any]],
                         info: Map[String, Any] = Map.empty)

final case class Ctx(spark: SparkSession, data: String, work: String, seed: Long,
                     seconds: Double, trace: Tracer)

object Workloads {
  type Rec = Map[String, Any]

  /** Batches an ingest run cycles through. */
  val IngestBatches = 3
  /** Distinct ask queries; asks cycle through them in seeded order. */
  val AskQueries = 48
  /** Untimed asks after set-up, so the timed ones meet warm code. */
  val AskWarmup = 16

  /** The fixture scale the catalog workload runs at. */
  val CatalogScale = "sf0.01"

  /** The catalog entry that runs the daily flow instead of a catalog query. */
  val FlowRow = "flow"

  /** The catalog rows the `catalog` workload times, with their group. */
  val CatalogRows: Seq[(String, String)] = Seq(
    "q69_bucketed_neardup" -> "ScaleOps",
    "q84_rrf_fusion" -> "TextOps",
    "q180_kcore" -> "Graph",
    "q169_term_salience" -> "OtherOps",
    "q183_ivfpq" -> "Pq",
    "q70_stream_asof" -> "Events",
    "q181_month_rebuild" -> "Ingest",
    FlowRow -> "Flow")

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, ms(t0))
  }

  /** Order-independent digest of a result: columns sorted by name, rows
    * rendered and sorted.
    */
  def digest(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => String.valueOf(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  def digest(df: DataFrame): (String, Long) = {
    val rows = df.collect().toSeq
    (digest(df.columns.toSeq, rows), rows.size.toLong)
  }

  private def guard(key: String)(f: => Rec): Rec =
    try f catch {
      case e: Mirror.Drift => throw e
      case NonFatal(e) => Map("key" -> key, "error" -> e.toString.take(400))
    }

  /** Runs `op` while the next call is expected to end within `seconds`
    * (at the pace of the calls so far), at least once. In a traced run
    * every second operation is traced and the others are not, which gives
    * the tracing overhead from one process; it runs at least three, so
    * untraced operations come both before and after a traced one.
    */
  private def measure(ctx: Ctx)(op: Int => Seq[Rec]): Seq[Rec] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer[Rec]()
    val minOps = if (ctx.trace.enabled) 3 else 1
    var i = 0
    while (i < minOps || ms(t0) * (i + 1) / i <= ctx.seconds * 1000) {
      val traced = ctx.trace.enabled && i % 2 == 1
      ctx.trace.active = traced
      try out ++= op(i).map(_ ++ Map("traced" -> traced, "op" -> i))
      finally ctx.trace.active = false
      i += 1
    }
    out.toSeq
  }

  // ---------------------------------------------------------------- ingest

  def ingest(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val base = Tables.documents(spark, s"${ctx.data}/sf0.1")
    val salts = Inputs.batchSalts(ctx.seed, IngestBatches)
    val (batches, genMs) = timed(salts.zipWithIndex.map { case (s, b) =>
      s -> Inputs.writeBatch(base, s, ctx.seed, s"${ctx.work}/inputs/batch$b")
    })
    if (ctx.trace.enabled) {
      val dir = batches.head._2
      Mirror.require("Retrieval.buildIndex", embedStep(chunkStep(cleanStep(spark, dir))),
        Retrieval.buildIndex(spark, dir).queryExecution.analyzed)
    }
    // one untimed call per batch: the first calls of a JVM are slower; a
    // traced run alternates the paths as its timed loop does, untraced
    val (_, warmMs) = timed(batches.zipWithIndex.foreach { case ((salt, dir), b) =>
      ingestOp(ctx, salt, dir, -1, split = ctx.trace.enabled && b % 2 == 1)
    })
    val ops = measure(ctx) { i =>
      val (salt, dir) = batches(i % batches.size)
      Seq(ingestOp(ctx, salt, dir, i, split = ctx.trace.active))
    }
    Outcome((genMs + warmMs) / 1000, Map("generate_s" -> genMs / 1000, "warmup_s" -> warmMs / 1000), ops,
      Map("salts" -> salts))
  }

  /** One ingest batch; `split` runs it step by step, as traced operations do. */
  private def ingestOp(ctx: Ctx, salt: Long, dir: String, i: Int, split: Boolean): Rec = guard(s"salt$salt") {
    val spark = ctx.spark
    val tr = ctx.trace
    val out = s"${ctx.work}/ingest-out/${java.lang.Math.floorMod(i, 2)}"
    val ((rows, tokens, nulls), opMs) = timed(tr.span("ingest") {
      if (!split) Ingest.observedWrite(Retrieval.buildIndex(spark, dir), "passage", out)
      else ingestSteps(ctx, dir, out)
    })
    val reread = spark.read.parquet(out).count()
    Map("key" -> s"salt$salt", "salt" -> salt, "ms" -> opMs, "items" -> rows,
      "observed" -> Map("rows" -> rows, "tokens" -> tokens, "nulls" -> nulls, "reread" -> reread))
  }

  /** `Retrieval.buildIndex` + `Ingest.observedWrite`, one step at a time:
    * each step is cached and counted inside its own span, which the
    * program does not do, so that each layer's time separates.
    */
  private def ingestSteps(ctx: Ctx, dir: String, out: String): (Long, Long, Long) = {
    val tr = ctx.trace
    val cached = mutable.ArrayBuffer[DataFrame]()
    def keep(df: DataFrame): (DataFrame, Long) = { cached += df.cache(); (df, df.count()) }
    try {
      val (clean, _) = tr.span("text.clean")(keep(cleanStep(ctx.spark, dir)))
      val (passages, _) = tr.spanWith("text.chunk", (p: (DataFrame, Long)) => Map("passages" -> p._2.toDouble)) {
        keep(chunkStep(clean))
      }
      val (embedded, _) = tr.span("embed.batch")(keep(embedStep(passages)))
      tr.spanWith("pipeline.write", (_: (Long, Long, Long)) => Map("files" -> partFiles(out).toDouble)) {
        Ingest.observedWrite(embedded, "passage", out)
      }
    } finally cached.foreach(_.unpersist(blocking = true))
  }

  // `Retrieval.buildIndex(spark, dir)` in three steps. They must mirror its
  // body line by line; a traced ingest run checks their plan against it.
  private def cleanStep(spark: SparkSession, dir: String): DataFrame =
    Tables.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), CleanText.cleanText(col("text")).as("clean"))

  private def chunkStep(clean: DataFrame): DataFrame =
    clean.select(col("doc_id"),
        posexplode(Chunker.passages(col("clean"), 300, 50)).as(Seq("passage_id", "passage")))
      .filter(trim(col("passage")) =!= "")

  private def embedStep(passages: DataFrame): DataFrame = {
    val spark = passages.sparkSession
    import spark.implicits._
    Embedder.embedPartitions(passages.as[(Long, Int, String)].map(r => (r, r._3)))
      .map { case ((d, p, t), v) => (d, p, t, v) }
      .toDF("doc_id", "passage_id", "passage", "vec")
  }

  private def partFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles).map(_.count(_.getName.startsWith("part-"))).getOrElse(0)

  // ------------------------------------------------------------------- ask

  def ask(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val base = Tables.documents(spark, s"${ctx.data}/sf0.1")
    val (dir, genMs) = timed(Inputs.writeShifted(base, ctx.seed, s"${ctx.work}/inputs/corpus"))
    val index = Retrieval.buildIndex(spark, dir).cache()
    val (passages, indexMs) = timed(index.count())
    val queries = Inputs.askQueries(spark, dir, ctx.seed, AskQueries)
    val order = new Random(ctx.seed ^ 0x5eedL).shuffle(queries)
    // a traced run alternates the paths in the warm-up as in its timed loop
    val (_, warmMs) = timed((0 until AskWarmup).foreach { i =>
      askOp(ctx, index, order(i % order.size), split = ctx.trace.enabled && i % 2 == 1)
    })
    val asks = measure(ctx)(i => Seq(askOp(ctx, index, order(i % order.size), split = ctx.trace.active)))
    // every answer must equal its query's rows in one batched retrieve + pack
    val batched = Retrieval.packContext(Retrieval.retrieve(queries.toDF("query_id", "query_text"), index))
    val columns = batched.columns.toSeq
    val qi = columns.indexOf("query_id")
    val expected = batched.collect().toSeq.groupBy(_.getLong(qi)).map { case (q, rows) => q -> digest(columns, rows) }
    index.unpersist(blocking = true)
    val ops = asks.map { a =>
      a.get("query_id").fold(a)(q => a + ("expected" -> Map("answer" -> expected.getOrElse(
        q.asInstanceOf[Long], digest(columns, Nil)))))
    }
    Outcome((genMs + indexMs + warmMs) / 1000, Map("generate_s" -> genMs / 1000,
        "index_s" -> indexMs / 1000, "warmup_s" -> warmMs / 1000), ops,
      Map("index_passages" -> passages, "queries" -> queries.size))
  }

  /** One ask; `split` runs its steps one at a time, as traced asks do. */
  private def askOp(ctx: Ctx, index: DataFrame, q: (Long, String), split: Boolean): Rec =
    guard(s"q${q._1}") {
      val spark = ctx.spark
      import spark.implicits._
      val tr = ctx.trace
      val ((columns, rows), opMs) = timed(tr.span("ask") {
        val qdf = Seq(q).toDF("query_id", "query_text")
        if (!split) {
          val packed = Retrieval.packContext(Retrieval.retrieve(qdf, index))
          (packed.columns.toSeq, packed.collect().toSeq)
        } else {
          tr.span("embed.query")(Embedder.withEmbedding(qdf, "query_text", "qv").collect())
          val (schema, retrieved) = tr.spanWith("query.retrieve",
              (r: (StructType, Array[Row])) => Map("results" -> r._2.length.toDouble)) {
            val df = Retrieval.retrieve(qdf, index)
            (df.schema, df.collect())
          }
          tr.span("query.pack") {
            val packed = Retrieval.packContext(
              spark.createDataFrame(java.util.Arrays.asList(retrieved: _*), schema))
            (packed.columns.toSeq, packed.collect().toSeq)
          }
        }
      })
      Map("key" -> s"q${q._1}", "query_id" -> q._1, "ms" -> opMs, "items" -> 1L,
        "observed" -> Map("answer" -> digest(columns, rows), "rows" -> rows.size.toLong))
    }

  // ------------------------------------------------------------------ flow

  /** `Continuous.run`'s stages, each materialized inside its own span.
    * The program caches only the index; here every step is cached and
    * counted, so that each layer's time separates.
    */
  private def flowSteps(ctx: Ctx, dir: String): (Long, Double) = {
    val spark = ctx.spark
    val tr = ctx.trace
    val cached = mutable.ArrayBuffer[DataFrame]()
    def keep(df: DataFrame): (DataFrame, Long) = { cached += df.cache(); (df, df.count()) }
    try {
      val (index, passages) = tr.span("query.build_index")(keep(Retrieval.buildIndex(spark, dir)))
      val docs = Tables.documents(spark, dir)
      val (pairs, _) = tr.spanWith("dedup.jaccard_pairs", (p: (DataFrame, Long)) => Map("pairs" -> p._2.toDouble)) {
        keep(evalPairs(docs))
      }
      val evalSet = evalSetOf(pairs, docs)
      val (hits, _) = tr.spanWith("query.retrieve_batch", (r: (DataFrame, Long)) => Map("results" -> r._2.toDouble)) {
        keep(batchHits(evalSet, index))
      }
      val recall = tr.spanWith("pipeline.gate", (r: Double) => Map("recall_at_10" -> r)) {
        val r = recallQuery(hits, evalSet).head().getDouble(0)
        if (r < 0.80) throw new IllegalStateException(f"recall@10 $r%.4f below quality gate 0.80")
        r
      }
      (passages, recall)
    } finally cached.foreach(_.unpersist(blocking = true))
  }

  /** The head of the recall query, `Continuous.run`'s last action, built
    * from the steps `flowSteps` runs.
    */
  private def flowRecallHead(spark: SparkSession, dir: String): DataFrame = {
    val index = Retrieval.buildIndex(spark, dir)
    val docs = Tables.documents(spark, dir)
    val evalSet = evalSetOf(evalPairs(docs), docs)
    recallQuery(batchHits(evalSet, index), evalSet).limit(1)
  }

  // `Continuous.run`'s queries as steps. They must mirror its body line by
  // line; a traced catalog run checks their plan against the one it runs.
  private def evalPairs(docs: DataFrame): DataFrame = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.9)

  private def evalSetOf(pairs: DataFrame, docs: DataFrame): DataFrame =
    pairs.join(docs.select(col("doc_id").as("doc_a"), col("text")), "doc_a")
      .select(col("doc_a").as("query_id"), col("text").as("query_text"), col("doc_b").as("expected_doc"))

  private def batchHits(evalSet: DataFrame, index: DataFrame): DataFrame =
    Retrieval.retrieve(evalSet.select(col("query_id"), col("query_text")), index, 10)

  private def recallQuery(hits: DataFrame, evalSet: DataFrame): DataFrame =
    hits.join(evalSet.select(col("query_id"), col("expected_doc")), "query_id")
      .groupBy("query_id")
      .agg(max(when(col("doc_id") === col("expected_doc"), 1).otherwise(0)).as("hit"))
      .agg(avg("hit"))

  // --------------------------------------------------------------- catalog

  def catalog(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = s"${ctx.data}/$CatalogScale"
    val rnd = new Random(ctx.seed)
    def program(): (Long, Double) = {
      val r = Continuous.run(spark, dir)
      (r.indexedPassages, r.recallAt10)
    }
    // set-up: every entry's first call, in catalog order, the flow through
    // Continuous.run. Some rows fill caches on their first call, so a traced
    // run traces these calls apart from the timed passes; it also keeps the
    // plan of the flow's last query for the mirror check.
    var programPlan = Option.empty[LogicalPlan]
    def firstFlow(): (Long, Double) =
      if (!ctx.trace.enabled) program()
      else {
        val (r, plan) = Mirror.lastAction(spark)(program())
        programPlan = Some(plan)
        r
      }
    ctx.trace.active = ctx.trace.enabled
    val (first, firstMs) = try timed(CatalogRows.map { case (row, _) => catalogRow(ctx, dir, row, "first", -1, firstFlow) })
      finally ctx.trace.active = false
    // one more untimed pass: the second calls are still far from warm
    val (warm, warmMs) = timed(CatalogRows.map { case (row, _) => catalogRow(ctx, dir, row, "warm", -1, program) })
    // a traced run's traced passes run the flow step by step: check that the
    // steps still build Continuous.run's plan, and warm them once, as the
    // untraced passes meet a warm Continuous.run
    val (steps, stepsMs) = timed(if (!ctx.trace.enabled) Nil else {
      programPlan.foreach(Mirror.require("Continuous.run", flowRecallHead(spark, dir), _))
      Seq(catalogRow(ctx, dir, FlowRow, "warm", -1, () => flowSteps(ctx, dir)))
    })
    val ops = measure(ctx)(i => rnd.shuffle(CatalogRows).map { case (row, _) =>
      catalogRow(ctx, dir, row, "row", i, () => if (ctx.trace.active) flowSteps(ctx, dir) else program())
    })
    Outcome((firstMs + warmMs + stepsMs) / 1000, Map("first_calls_s" -> firstMs / 1000,
        "warmup_s" -> warmMs / 1000, "flow_steps_warmup_s" -> stepsMs / 1000),
      ops, Map("groups" -> CatalogRows.toMap, "setup_calls" -> (first ++ warm ++ steps)))
  }

  private def catalogRow(ctx: Ctx, dir: String, row: String, kind: String, pass: Int,
                         flow: () => (Long, Double)): Rec = guard(row) {
    val (observed, opMs) = timed(ctx.trace.spanWith(s"catalog.$kind.$row",
        (_: Map[String, Any]) => Map("pass" -> pass.toDouble)) {
      if (row == FlowRow) {
        val (passages, recall) = flow()
        Map[String, Any]("passages" -> passages, "recall_at_10" -> recall)
      } else {
        val (hash, n) = digest(graft.SparkEntry.queries(row)(ctx.spark, dir))
        Map[String, Any]("hash" -> hash, "rows" -> n)
      }
    })
    Map("key" -> row, "ms" -> opMs, "items" -> 1L, "observed" -> observed)
  }
}
