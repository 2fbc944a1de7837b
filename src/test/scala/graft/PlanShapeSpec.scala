package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guardrails on the PHYSICAL plan shapes that make queries survive a
  * 100× scale-up. Correctness is the oracle gate's job; this spec pins the
  * scale properties — a Spark upgrade or an innocent-looking refactor that
  * silently turns a broadcast join into a cartesian product, or drops a
  * partial top-k below a shuffle, fails here instead of in production.
  *
  * Assertions read the pre-execution plan string (the AQE-initial plan:
  * what the optimizer committed to before runtime re-planning), so they
  * are deterministic and cheap — the only jobs are the eager staged
  * checkpoints a query runs while it is built.
  */
class PlanShapeSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  // -- structural inspection (stable across Spark's plan-string formats) --

  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, HashPartitioningLike, UnknownPartitioning}
  import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
  import org.apache.spark.sql.util.QueryExecutionListener
  import org.apache.spark.sql.execution.window.{WindowExec, WindowExecBase}

  /** Every node of the pre-execution physical plan (AQE unwrapped). */
  private def nodes(name: String): Seq[SparkPlan] =
    planNodes(SparkEntry.queries(name)(spark, dir))

  private def planNodes(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case _ => p +: p.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** The packing-shape pin, structurally: every window whose frame runs in
    * doc_id order (the corpus-width running sum) must partition by at
    * least (lang, blk) — a window partitioned by lang alone puts a whole
    * language's rows into ONE task and is the scale-killer shape. */
  private def assertBlockedPackingWindows(name: String): Unit = {
    val ws = nodes(name).collect { case w: WindowExecBase => w }
    assert(ws.nonEmpty, s"$name lost its packing window")
    val docOrdered = ws.filter(_.orderSpec.map(_.child).exists {
      case a: AttributeReference => a.name == "doc_id"
      case _ => false
    })
    assert(docOrdered.nonEmpty, s"$name: no doc_id-ordered running-sum window")
    docOrdered.foreach { w =>
      val parts = w.partitionSpec.collect { case a: AttributeReference => a.name }
      assert(parts.size >= 2 && parts.contains("blk"),
        s"$name: running sum partitioned by ${parts.mkString(",")} — " +
          "whole-language window (the scale-killer) is back")
    }
  }

  /** Reads of a staged frame: scans of a checkpointed RDD leaf. */
  private def countStagedReads(name: String): Int =
    nodes(name).count {
      case r: RDDScanExec => r.rdd.isCheckpointed
      case _ => false
    }

  /** Plan nodes INCLUDING the plans of the eager checkpoints (staged
    * frames, loop rounds) the query ran while it was built — where the
    * corpus-scan work actually lives for the staged pipelines. Staged
    * frames are cleared first so each is built, and seen, once. */
  private def deepNodes(name: String): Seq[SparkPlan] = {
    val built = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        if (action == "checkpoint" || action == "localCheckpoint") built.add(qe.executedPlan)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    graft.ops.Q.clearStaged()
    spark.listenerManager.register(listener)
    val df =
      try SparkEntry.queries(name)(spark, dir)
      finally {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case _ => p +: p.children.flatMap(walk)
    }
    import scala.jdk.CollectionConverters._
    (df.queryExecution.executedPlan +: built.asScala.toSeq).flatMap(walk)
  }

  test("q56 manifest: one metadata-width exchange, text never shuffles") {
    // the shard export's gate query must shuffle only (doc_id, shard,
    // skey) — if a refactor drags the text column through the exchange,
    // the export shuffles the whole corpus twice (once here, once in the
    // write pass)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val ex = nodes("q56_shard_export").collect { case e: ShuffleExchangeExec => e }
    assert(ex.size == 1, s"expected 1 shuffle, got ${ex.size}")
    val shuffled = ex.head.child.output.map(_.name)
    assert(!shuffled.contains("text"), s"text in shuffle: $shuffled")
  }

  test("k-means assignment is window-free (vectors never shuffle)") {
    // d16/s05 assign vectors to centroids through the row-wise native
    // nearest_centroid arg-max; if a refactor reintroduces the cross-join
    // + row_number spelling, every vector ships k times through a
    // per-vec_id exchange — the N·k explosion this family was built to
    // avoid — and a WindowExec reappears here
    for (n <- Seq("d16_semantic_dedup", "s05_kmeans_update")) {
      val ws = deepNodes(n).collect { case w: WindowExecBase => w }
      assert(ws.isEmpty, s"$n grew a window: ${ws.map(_.simpleStringWithNodeId())}")
      val evals = deepNodes(n)
        .flatMap(_.expressions)
        .map(_.collect { case c: graft.functions.NearestCentroid => c }.size)
        .sum
      assert(evals == 1, s"$n evaluates nearest_centroid $evals times")
    }
    // the IVF family assigns through the same kernels (nearest_centroids
    // for probe lists): a window partitioned by vec_id anywhere in their
    // plans, staged builds included, is the cross-join spelling come back
    for (n <- Seq("s03_knn_ivf", "d05_embedding_neardup", "s12_ivf_incremental",
        "s15_knn_graph", "s17_knn_ivf_trained")) {
      val deep = deepNodes(n)
      val byVec = deep.collect { case w: WindowExecBase => w }
        .filter(_.partitionSpec.exists {
          case a: AttributeReference => a.name == "vec_id"
          case _ => false
        })
      assert(byVec.isEmpty, s"$n ranks per vec_id in a window: ${byVec.map(_.simpleStringWithNodeId())}")
      val kernels = deep.flatMap(_.expressions).map(_.collect {
        case c: graft.functions.NearestCentroid => c
        case c: graft.functions.NearestCentroids => c
      }.size).sum
      assert(kernels > 0, s"$n assigns without nearest_centroid(s)")
    }
  }

  test("q46/q50 evaluate corpus_features exactly once per row") {
    // the one-pass analysis expression must stay single-evaluation: if
    // CollapseProject (or a pushed predicate) ever starts substituting it
    // into its ~9 GetStructField consumers, the corpus scan re-walks the
    // text per reference — the 10× landmine the expression was built to
    // remove (SCALE.md, q50 at 64×)
    for (n <- Seq("q46_corpus_report", "q50_sequence_pipeline")) {
      val evals = deepNodes(n)
        .flatMap(_.expressions)
        .map(_.collect { case c: graft.functions.CorpusFeatures => c }.size)
        .sum
      assert(evals == 1, s"$n evaluates corpus_features $evals times")
    }
  }

  test("d09 ranks with WindowGroupLimit partials below AND above the exchange") {
    val p = plan("d09_fixed_size_sample")
    // two occurrences: partial (pre-shuffle, caps what the exchange
    // carries at K·partitions rows/stratum) + final (post-shuffle)
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
  }

  test("q47 chunking is shuffle-free (explode stays embarrassingly parallel)") {
    val p = plan("q47_chunk_windows")
    assert(!p.contains("Exchange"), p)
  }

  test("q48 packing: two-phase prefix sum, no whole-language window sort") {
    assertBlockedPackingWindows("q48_greedy_packing")
    // block offsets come back by broadcast, and both phases read the
    // staged narrow projection — the text is scanned once, in its build
    assert(plan("q48_greedy_packing").contains("BroadcastHashJoin"))
    assert(countStagedReads("q48_greedy_packing") >= 2)
  }

  test("t07/t08 text stages are shuffle-free row-wise projections") {
    for (n <- Seq("t07_repetition_stats", "t08_quality_filter")) {
      val p = plan(n)
      assert(!p.contains("Exchange"), s"$n shuffles:\n$p")
    }
  }

  test("s07 quantization is shuffle-free (higher-order funcs, no explode)") {
    // int8 quantization is one projection per vector; an explode +
    // re-aggregate spelling would shuffle every vector's 64 rows
    val p = plan("s07_embedding_quantize")
    assert(!p.contains("Exchange"), s"s07 shuffles:\n$p")
    assert(!p.contains("Generate"), s"s07 explodes:\n$p")
  }

  test("s09 random projection is shuffle-free (higher-order funcs, no explode)") {
    // 64→16 JL projection is one map pass per vector; an explode over
    // (dim × plane) pairs would shuffle 1024 rows per vector
    val p = plan("s09_random_projection")
    assert(!p.contains("Exchange"), s"s09 shuffles:\n$p")
    assert(!p.contains("Generate"), s"s09 explodes:\n$p")
  }

  test("d14 intra-doc dedup is shuffle-free (pure map pass, no explode)") {
    // first-occurrence filtering is higher-order array funcs over one
    // row; an explode + window spelling would shuffle every span
    val p = plan("d14_intradoc_dedup")
    assert(!p.contains("Exchange"), s"d14 shuffles:\n$p")
    assert(!p.contains("Generate"), s"d14 explodes:\n$p")
  }

  test("q57 merge: delta keys broadcast, base snapshot never shuffles") {
    // the anti join against the delta key set must be broadcast — a
    // shuffle anti join would exchange the 100 TB base for a day's delta
    val p = plan("q57_incremental_merge")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"delta anti-join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"base snapshot shuffles:\n$p")
  }

  test("q46 datasheet is single-scan: one text scan, two shuffles") {
    val p = plan("q46_corpus_report")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"re-scans the corpus:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("q50 sequence pipeline: single text scan + blocked packing window") {
    // both packing-phase consumers read the staged chunk frame, so the
    // text is scanned only inside its build
    assert(countStagedReads("q50_sequence_pipeline") >= 2,
      "staged chunk frame not reused")
    // packing window is the blocked two-phase shape, never per-language
    assertBlockedPackingWindows("q50_sequence_pipeline")
  }

  test("dim joins broadcast; no cartesian product in relational paths") {
    for (n <- Seq("q03_shipping_priority", "q05_local_supplier_volume")) {
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin"), s"$n lost its broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$n went cartesian:\n$p")
    }
  }

  test("d18 importance weights broadcast back onto the n-gram stream, never SMJ") {
    // the <=1024-row weight table is a model artifact (t11's LM rule):
    // losing the broadcast would shuffle the full n-gram stream at 100 TB
    val p = plan("d18_importance_select")
    assert(p.contains("BroadcastHashJoin"), s"weight join lost its broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"n-gram stream shuffles for the join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrdered"), s"top-K regressed to a full sort:\n$p")
  }

  test("q62/q63 sequence analytics: windowed sort, no collected arrays, no cartesian") {
    for (n <- Seq("q62_transition_matrix", "q63_interarrival_stats")) {
      val p = plan(n)
      // the skew-proof contract these share with q60: per-user sequences
      // flow through an O(1)-state window over a spillable sort — a
      // collect_list regression is a power-user task OOM at 100 TB
      assert(!p.contains("collect_list"), s"$n regressed to array collection:\n$p")
      assert(p.contains("Window"), s"$n lost its window:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
    // q62's row-total join is <=|event_types| rows — must broadcast
    assert(plan("q62_transition_matrix").contains("BroadcastHashJoin"),
      "q62 row-total join lost its broadcast")
  }

  test("q60 funnel: running-min windows over a spillable sort, never collect_list") {
    // the skew-proof contract (documented at Temporal.q60, re-proven on a
    // 300k-event hot user in ScaleSpec): per-user sequences flow through
    // O(1)-state running-min windows — a collect_list regression is one
    // un-spillable array task per power user at 100 TB
    val p = plan("q60_conversion_funnel")
    assert(!p.contains("collect_list"), s"q60 regressed to array collection:\n$p")
    assert(p.contains("Window"), s"q60 lost its running-min windows:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q61 cohort retention: distinct-aggregate shape, no count-distinct Expand") {
    // the joined frame is distinct per (user, week) and offset is a
    // bijection of week given the cohort, so the cell aggregate is a plain
    // count(*) — a count(DISTINCT) respelling would add an Expand pass
    // (q50's lesson) that doubles the shuffled volume for the same number
    val p = plan("q61_cohort_retention")
    assert(!p.contains("Expand"), s"q61 grew a count-distinct Expand pass:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"q61 cohort-size join lost its broadcast:\n$p")
  }

  test("LSH dedup candidates come from equality joins, never nested-loop") {
    val p = plan("d02_minhash_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q44 BM25 joins the 1-row corpus stats by broadcast, not shuffle") {
    val p = plan("q44_bm25_search")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"stats side not broadcast:\n$p")
  }

  test("s02 LSH candidates come from an equality hash join on the bucket") {
    val p = plan("s02_knn_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin"), s"bucket join not hash-based:\n$p")
  }

  test("d10 weighted sample ranks with WindowGroupLimit partials (like d09)") {
    val p = plan("d10_weighted_sample")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
  }

  test("d11 span dedup: repeated-span set joins by hash, never nested-loop") {
    val p = plan("d11_span_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin"), s"span-frequency join not hash-based:\n$p")
  }

  test("q51 domain gate broadcasts the per-source stats back onto the scan") {
    val p = plan("q51_domain_quality_gate")
    assert(p.contains("BroadcastHashJoin"), s"stats join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"tiny stats side shuffled:\n$p")
  }

  test("t09 surprisal broadcasts the vocabulary onto the token stream") {
    val p = plan("t09_token_surprisal")
    assert(p.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t11 bigram LM: vocab and LM tables broadcast onto the stream, never SMJ") {
    // The bigram stream is tokens-width; if any of the four joins (2×
    // vocab map, LM counts, context counts) degrades to a sort-merge
    // join, the whole stream shuffles on a string key — the scale-killer
    // this pin exists to catch. The only exchanges allowed are the
    // aggregations (vocab top-V, LM counts, per-doc rollup).
    val p = plan("t11_bigram_lm_score")
    assert(p.contains("BroadcastHashJoin"), s"LM joins not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"bigram stream shuffled for a join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q52 mixture sampling broadcasts the per-lang budgets, no cartesian") {
    val p = plan("q52_mixture_sample")
    assert(p.contains("BroadcastHashJoin"), s"budget join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s10 PQ: codebook and query sides broadcast; rerank joins by hash; top-K partials") {
    val p = plan("s10_knn_pq")
    // the 64-row codebook (encode + reconstruct) and |Q| (ADC scan) are
    // the deliberate broadcast sides; a CartesianProduct would mean one
    // of them started shuffling the corpus
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"codebook/query sides not broadcast:\n$p")
    // candidate fetch (arn <= 100) must collapse to partial top-K below
    // the exchange, never a full per-query sort of the ADC scan
    assert(p.contains("WindowGroupLimit"), s"ADC rank filter not group-limited:\n$p")
    // rerank touches |Q|*100 rows via equality hash joins on vec_id
    assert(p.contains("HashJoin"), s"rerank join not hash-based:\n$p")
  }

  test("d17 semantic decontam: eval set broadcasts, the corpus never shuffles") {
    val p = plan("d17_semantic_decontam")
    // the eval set is the broadcast side; the corpus pass is row-wise —
    // any shuffle join here means the asymmetry was lost
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"eval set not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for the eval join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s05 k-means assigns against BROADCAST centroids, never a shuffle product") {
    val p = plan("s05_kmeans_update")
    // K centroids ≪ N vectors: the deliberate K×N pass must be a broadcast
    // nested-loop (or hash) join, never a partition-shuffling cartesian
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroids not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("filters reach the parquet scan (pushdown not regressed)") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.replaceAll("\\s", "").contains("PushedFilters:[]"), p)
  }

  test("t16/t17 scrub & script ID: pure row-wise map passes, zero exchanges") {
    // the 100 TB ideal shape these ship (and the reason they run 4-19x
    // FASTER than DuckDB at 64x, SCALE.md): regex battery + bounded
    // per-row lambdas over the scan, nothing shuffles, no explode
    for (n <- Seq("t16_pii_scrub", "t17_script_id")) {
      val p = plan(n)
      assert(!p.contains("Exchange"), s"$n grew a shuffle:\n$p")
      assert(!p.contains("Generate"), s"$n grew an explode:\n$p")
    }
  }

  test("q18 bloom dial: zero orders exchange under the flag, rows unchanged") {
    // Round-13 verdict item 4: the Bloom semi-join spelling (staged
    // post-HAVING aggregate + driver Bloom prefilter on the orders scan)
    // removes the 881 MB / 38.4 M-row orders exchange at 256× but loses
    // to job constants locally, so it ships as `-Dgraft.q18.bloom`
    // (default off). This pins BOTH halves of the contract: the dialed
    // plan never shuffles the orders table, and the dial changes no rows.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def rows(): Seq[String] =
      SparkEntry.queries("q18_large_orders")(spark, dir)
        .collect().map(_.toString).sorted.toSeq
    def subtree(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(subtree)
    def shufflesOrders(e: SparkPlan): Boolean = subtree(e).exists {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("orders.parquet"))
      case _ => false
    }
    val plain = rows()
    assert(plain.nonEmpty)
    sys.props("graft.q18.bloom") = "true"
    try {
      assert(rows() == plain, "the bloom dial changed q18's rows")
      val ex = nodes("q18_large_orders").collect { case e: ShuffleExchangeExec => e }
      assert(!ex.exists(shufflesOrders),
        s"orders still shuffles under -Dgraft.q18.bloom:\n${plan("q18_large_orders")}")
      // and the prefilter is actually on the scan (the exactness argument
      // needs the exact join AFTER it, which the row equality just proved)
      assert(plan("q18_large_orders").contains("UDF"),
        "bloom prefilter missing from the dialed plan")
    } finally sys.props.remove("graft.q18.bloom")
  }

  test("t18 detokenize: distinct-word decode broadcasts onto the token explode") {
    // t15's contract: the per-word decode frame is vocabulary-scale and
    // must broadcast — a sort-merge regression would shuffle the full
    // corpus token stream on the join key
    val p = plan("t18_detokenize")
    assert(p.contains("BroadcastHashJoin"),
      s"t18 lost the vocabulary-side broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"t18 shuffles the token stream through a sort-merge join:\n$p")
  }

  // -- packed-key sorts (graft.plans.PackedKeySort) ------------------------

  import graft.plans.{PackedKeySortExec, RunningWindowExec}
  import org.apache.spark.sql.execution.SortExec

  /** Every window is fed by a packed-key sort (directly or through the
    * projections and windows stacked on it), with no stock multi-key sort
    * below; returns the windows. */
  /** Every window of `name`, stock or [[graft.plans.RunningWindowExec]],
    * must read a packed-key sort. */
  private def windowsOnPackedSorts(name: String): Seq[WindowExecBase] = {
    val ws = nodes(name).collect { case w: WindowExecBase => w }
    assert(ws.nonEmpty, s"$name lost its window")
    ws.foreach { w =>
      assert(w.exists(_.isInstanceOf[PackedKeySortExec]), s"$name: no PackedKeySort under\n$w")
      val stock = w.collect { case s: SortExec if s.sortOrder.size >= 2 => s }
      assert(stock.isEmpty, s"$name: stock multi-key sort left under the window:\n$w")
    }
    ws
  }

  test("q08 window sorts on the packed (l_suppkey, l_shipdate) prefix") {
    val ws = windowsOnPackedSorts("q08_running_totals")
    assert(ws.forall(w => w.isInstanceOf[RunningWindowExec] &&
      w.child.isInstanceOf[PackedKeySortExec]), ws.mkString("\n"))
  }

  test("lead, RANGE-frame, ntile and long-lag windows stay WindowExec; running ones stream") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = spark.range(200).select((col("id") % 7).as("k"), (col("id") % 11).as("o"),
      col("id").as("v"))
    val w = Window.partitionBy("k").orderBy("o")
    def window(c: org.apache.spark.sql.Column): Seq[Class[_]] =
      planNodes(df.select(col("*"), c.as("w"))).collect { case w: WindowExecBase => w.getClass }
    for (c <- Seq(lead("v", 1).over(w), sum("v").over(w), ntile(3).over(w),
        sum("v").over(w.rowsBetween(-2, 0)), lag("v", -1).over(w),
        lag("v", RunningWindowExec.MaxLag + 1).over(w)))
      assert(window(c) == Seq(classOf[WindowExec]), c)
    for (c <- Seq(sum("v").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        lag("v", 2, 0L).over(w), lag("v", RunningWindowExec.MaxLag).over(w), rank().over(w)))
      assert(window(c) == Seq(classOf[RunningWindowExec]), c)
  }

  test("q60 running-min windows keep the packed-key sort") {
    windowsOnPackedSorts("q60_conversion_funnel")
  }

  test("q06 plans no sort at all") {
    assert(!nodes("q06_forecast_revenue").exists(p =>
      p.isInstanceOf[SortExec] || p.isInstanceOf[PackedKeySortExec]))
  }

  test("single-key and string-led sorts stay SortExec; two int keys pack") {
    import spark.implicits._
    val df = spark.range(200).select(($"id" % 7).as("a"), ($"id" % 5).as("b"),
      ($"id" % 3).cast("string").as("s")).repartition(3, $"a")
    def sorts(cols: String*): Seq[SparkPlan] =
      planNodes(df.sortWithinPartitions(cols.map(df.col): _*))
        .filter(p => p.isInstanceOf[SortExec] || p.isInstanceOf[PackedKeySortExec])
    assert(sorts("a").map(_.getClass) == Seq(classOf[SortExec]))
    assert(sorts("s", "a").map(_.getClass) == Seq(classOf[SortExec]))
    assert(sorts("a", "b").map(_.getClass) == Seq(classOf[PackedKeySortExec]))
  }

  /** The hash-partitioned frame both barrier leaves are built from. */
  private def keyed(): org.apache.spark.sql.DataFrame =
    spark.range(0, 2000).selectExpr("id % 97 AS k", "id AS v")
      .repartition(8, org.apache.spark.sql.functions.col("k"))

  private def leafAndExchanges(df: org.apache.spark.sql.DataFrame): (SparkPlan, Int) = {
    val leaf = planNodes(df).filter(_.children.isEmpty) match {
      case Seq(l) => l
      case ls => fail(s"expected one leaf, got ${ls.mkString(", ")}")
    }
    val exchanges = planNodes(df.groupBy("k").count()).count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    (leaf, exchanges)
  }

  private def assertKeyedOnK(leaf: SparkPlan): Unit =
    leaf.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.numPartitions == 8)
        assert(h.expressions.collect { case a: AttributeReference => a.name } == Seq("k"))
      case other => fail(s"leaf $leaf reports $other")
    }

  test("under AQE checkpoint, staged and built-cache leaves keep hash partitioning") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val (ckLeaf, ckExchanges) = leafAndExchanges(graft.ops.Q.roundCheckpoint(keyed()))
    assertKeyedOnK(ckLeaf)
    assert(ckExchanges == 0, "a groupBy on the checkpoint's key must not re-exchange")
    try {
      val (stLeaf, stExchanges) =
        leafAndExchanges(graft.ops.Q.staged("leaf_probe_keyed", dir)(keyed()))
      assert(stLeaf.isInstanceOf[RDDScanExec], stLeaf)
      assertKeyedOnK(stLeaf)
      assert(stExchanges == 0, "a groupBy on the staged frame's key must not re-exchange")
    } finally graft.ops.Q.clearStaged()
    val cached = keyed().cache()
    try {
      cached.createOrReplaceTempView("leaf_probe_cached")
      // a cache not yet built reports nothing: its plan is still an
      // unexecuted adaptive plan
      val (lazyLeaf, lazyExchanges) = leafAndExchanges(spark.table("leaf_probe_cached"))
      assert(lazyLeaf.isInstanceOf[InMemoryTableScanExec], lazyLeaf)
      assert(lazyLeaf.outputPartitioning.isInstanceOf[UnknownPartitioning], lazyLeaf)
      assert(lazyExchanges == 1)
      cached.count()
      val (cacheLeaf, cacheExchanges) = leafAndExchanges(spark.table("leaf_probe_cached"))
      assert(cacheLeaf.isInstanceOf[InMemoryTableScanExec], cacheLeaf)
      assertKeyedOnK(cacheLeaf)
      assert(cacheExchanges == 0, "a groupBy on the built cache's key must not re-exchange")
    } finally cached.unpersist(blocking = true)
  }

  test("staged returns a checkpoint leaf, never a cache, for any frame") {
    import org.apache.spark.storage.StorageLevel
    val ck = graft.ops.Q.staged("leaf_probe_ck", dir) { graft.ops.Q.roundCheckpoint(keyed()) }
    val viaRdd = graft.ops.Q.staged("leaf_probe_rdd", dir) {
      val df = keyed()
      spark.createDataFrame(df.rdd, df.schema)
    }
    try {
      for (df <- Seq(ck, viaRdd)) {
        df.queryExecution.analyzed match {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            assert(l.rdd.isCheckpointed, "staged returned an unmaterialized frame")
          case other => fail(s"staged returned $other")
        }
        assert(df.storageLevel == StorageLevel.NONE, "a staged frame was cached")
      }
    } finally graft.ops.Q.clearStaged()
  }

  test("m10's gkey self-join plans no exchange on either side above the ck leaf") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // broadcast off, so the join is a shuffle join at any scale
    graft.Sessions.withConf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1") {
      graft.ops.Q.clearStaged()
      val joins = planNodes(SparkEntry.queries("m10_audio_granule_neardup")(spark, dir))
        .collect { case j: SortMergeJoinExec => j }
        .filter(_.leftKeys.exists(_.references.exists(_.name == "gkey")))
      assert(joins.size == 1, s"expected one gkey self-join, got ${joins.size}")
      for (side <- joins.head.children) {
        assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"a self-join side re-exchanges above the ck leaf:\n$side")
        assert(side.collect { case r: RDDScanExec => r }.size == 1, side)
      }
    }
  }

  test("q65's branches plan no user_id exchange over the staged base, AQE on") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    graft.ops.Q.clearStaged()
    val ns = planNodes(SparkEntry.queries("q65_fused_event_suite")(spark, dir))
    val byUser = ns.collect { case e: ShuffleExchangeExec => e }.filter { e =>
      e.outputPartitioning match {
        case h: HashPartitioning => h.references.exists(_.name == "user_id")
        case _ => false
      }
    }
    assert(byUser.isEmpty, s"a q65 branch re-exchanges on user_id: $byUser")
    val bases = ns.collect { case r: RDDScanExec if r.output.exists(_.name == "user_id") => r }
    assert(bases.nonEmpty && bases.forall(_.outputPartitioning.isInstanceOf[HashPartitioningLike]),
      s"the staged base lost its user_id partitioning: $bases")
  }

  test("d24's fixpoint runs at most two jobs: the edge count and a one-task solve") {
    // the job-budget pin: a gate-size graph fits one partition, so the
    // fixpoint must not fall back to one job per unrolled round (the
    // round loop runs four here: the count, two rounds and the label
    // checkpoint). A job belongs to the
    // fixpoint when its call site, or that of the SQL execution it
    // serves, runs through `minLabelComponents`.
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sqlSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Option[Long])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.stageInfos.headOption.map(_.details).getOrElse(""),
          Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .map(_.toLong)))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => sqlSites.put(x.executionId, x.details)
        case _ => ()
      }
    }
    graft.ops.Q.clearStaged()
    spark.sparkContext.addSparkListener(listener)
    try SparkEntry.queries("d24_semantic_graph_dedup")(spark, dir)
    finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val fixpointJobs = jobs.asScala.count { case (site, sql) =>
      (site +: sql.flatMap(id => Option(sqlSites.get(id))).toSeq)
        .exists(_.contains("minLabelComponents"))
    }
    assert(fixpointJobs >= 1, "no job traced to minLabelComponents: the listener saw nothing")
    assert(fixpointJobs <= 2, s"d24's fixpoint ran $fixpointJobs jobs (budget 2)")
  }
}
