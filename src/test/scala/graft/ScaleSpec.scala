package graft

import graft.operators.SaltedJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-pattern behaviors: salted skew joins produce identical results to
  * plain joins; bucketed tables join without a shuffle exchange. */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("q60 funnel is skew-proof: hot user with 300k events, exact vs driver-local fold") {
    // the collect_list spelling this replaced would build one 300k-element
    // array in a single task; the running-min window spelling keeps O(1)
    // state per user and must stay EXACT — checked here against an
    // independent array-fold done driver-locally on the same rows
    val W = graft.ops.Temporal.funnelWindowUs
    val hour = 3600L * 1000000L
    val base = 1700000000L * 1000000L // epoch micros
    def et(u: Long, i: Int): String =
      Seq("view", "click", "purchase", "other", "view")(((u * 31 + i) % 5).toInt)
    val normal = for (u <- 1L to 50L; i <- 0 until 20)
      yield (u, base + u * 24 * hour + i * hour, et(u, i))
    val hot = for (i <- 0 until 300000)
      yield (777L, base + i * 1000000L, Seq("view", "click", "purchase")(i % 3))
    val rows = normal ++ hot
    val tmp = graft.ops.StreamingGate.tempDir("graft-q60-skew").toString
    rows.toDF("user_id", "t", "event_type")
      .select($"user_id", timestamp_micros($"t").as("ts"), $"event_type")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = SparkEntry.queries("q60_conversion_funnel")(spark, tmp).collect()(0)
    // independent derivation: per-user min-chain over in-memory arrays
    val funnel = rows.groupBy(_._1).values.map { evs =>
      def minIn(typ: String, lo: Option[Long]): Option[Long] = lo.flatMap { l =>
        val q = evs.collect { case (_, t, e) if e == typ && t > l && t <= l + W => t }
        if (q.isEmpty) None else Some(q.min)
      }
      val tv = { val v = evs.collect { case (_, t, "view") => t }
                 if (v.isEmpty) None else Some(v.min) }
      val tc = minIn("click", tv)
      val tp = minIn("purchase", tc)
      (tv, tc, tp)
    }.toSeq
    assert(got.getLong(0) == funnel.count(_._1.isDefined))
    assert(got.getLong(1) == funnel.count(_._2.isDefined))
    assert(got.getLong(2) == funnel.count(_._3.isDefined))
    assert(got.getLong(3) == funnel.collect {
      case (Some(v), Some(c), _) => c - v }.sum)
    assert(got.getLong(4) == funnel.collect {
      case (Some(v), _, Some(p)) => p - v }.sum)
    // and the plan must not rebuild the array: no collect_list anywhere
    val plan = SparkEntry.queries("q60_conversion_funnel")(spark, tmp)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("collect_list"), "q60 regressed to the array spelling")
  }

  test("d19/d20 substring dedup are skew-proof: 300k-token doc + universal boilerplate shingle") {
    // the two worst keys a 100 TB corpus throws at substring dedup, in one
    // fixture: (a) ONE document with 300k tokens (its coverage window is a
    // single doc_id partition) and (b) ONE boilerplate shingle carried by
    // ~95% of documents (its hash is the hottest frequency-count key and,
    // for d20, the hottest FSM group). All filler tokens are globally
    // unique, so the boilerplate span is provably the ONLY repeat and the
    // exact expected output is known per document.
    val W = graft.ops.CurationOps.W
    val boiler = (0 until W).map(i => s"boiler$i")
    def filler(doc: Long, n: Int, tag: String): Seq[String] =
      (0 until n).map(i => s"u${doc}x$tag$i")
    val docs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    for (id <- 1L to 2000L) // carriers, boilerplate at varying offsets
      docs += id -> (filler(id, (id % 5).toInt + 2, "a") ++ boiler ++
        filler(id, 3, "b")).mkString(" ")
    for (id <- 2001L to 2100L) // clean docs
      docs += id -> filler(id, 10, "c").mkString(" ")
    val giantId = 2101L // odd, so d20 routes it through the later batch
    docs += giantId -> (filler(giantId, 150000, "g") ++ boiler ++
      filler(giantId, 150000, "h")).mkString(" ")
    val tmp = graft.ops.StreamingGate.tempDir("graft-d19-skew").toString
    docs.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src1"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def expect(id: Long): (Long, Long, Long) =
      if (id <= 2000L) ((id % 5) + 2 + W + 3, W.toLong, 1L)
      else if (id <= 2100L) (10L, 0L, 0L)
      else (300000L + W, W.toLong, 1L)
    // d19 batch: exactly the boilerplate span is removed from every carrier
    val got19 = SparkEntry.queries("d19_substring_dedup")(spark, tmp)
      .select($"doc_id", $"n_tokens", $"n_removed", $"n_spans").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got19.size == 2101)
    for (id <- 1L to giantId)
      assert(got19(id) == expect(id), s"d19 doc $id")
    // d20 streaming: even docs own the boilerplate hash; every ODD carrier
    // (1000 docs + the giant) hits the same owned group in one batch
    val got20 = graft.ops.StreamingGate.spanDedupStream(spark, tmp, None)
      .select($"doc_id", $"n_tokens", $"n_removed", $"n_spans").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got20.size == 1051 && got20.keySet.forall(_ % 2 == 1))
    for (id <- got20.keys)
      assert(got20(id) == expect(id), s"d20 doc $id")
  }

  test("salted join == plain join on skewed data (90% hot key)") {
    val skewed = spark.range(0, 10000)
      .select((when($"id" % 10 < 9, 1L).otherwise($"id")).as("k"),
        $"id".as("payload"))
    val dim = spark.range(0, 200).select($"id".as("k"), ($"id" * 2).as("attr"))

    val plain = skewed.join(dim, "k").select($"k", $"payload", $"attr")
    val salted = SaltedJoin(skewed, dim, "k", salts = 8)
      .select($"k", $"payload", $"attr")

    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("bucketed tables join without a shuffle exchange") {
    val orders = graft.ops.Q.table(spark, "/root/testdata/sf0.001", "orders")
    val customer = graft.ops.Q.table(spark, "/root/testdata/sf0.001", "customer")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")
    // a previous JVM's managed-table dirs survive the (new) catalog's
    // DROP — remove the physical locations too
    val wh = java.nio.file.Paths.get(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    Seq("orders_b", "customer_b").foreach { t =>
      val p = wh.resolve(t)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("orders_b")
    customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("customer_b")

    val joined = spark.table("orders_b")
      .join(spark.table("customer_b"), $"o_custkey" === $"c_custkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
      s"bucketed join should be exchange-free:\n$plan")
    assert(joined.count() ==
      orders.join(customer, $"o_custkey" === $"c_custkey").count())
  }

  test("fused event suite == the four individual gate queries, sharing one shuffle") {
    val dir = "/root/testdata/sf0.001"
    val fused = graft.ops.Temporal.fusedEventSuite(spark, dir)
    // equality: every branch's tagged JSON payload set matches the solo
    // query's rows encoded the same way (same engine, same formatting)
    val got = fused.collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getString(1)).toSet }
    val solos = Seq("q60" -> "q60_conversion_funnel", "q61" -> "q61_cohort_retention",
      "q62" -> "q62_transition_matrix", "q63" -> "q63_interarrival_stats")
    for ((tag, name) <- solos) {
      val df = SparkEntry.queries(name)(spark, dir)
      val want = df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)))
        .collect().map(_.getString(0)).toSet
      assert(got(tag) == want, s"fused $tag diverged from $name")
    }
    // plan pin: no branch re-exchanges the event stream — the only
    // user_id hashpartitioning lives inside the staged base's build
    val plan = fused.queryExecution.executedPlan.toString
    val reExchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(plan).size
    assert(reExchanges == 0,
      s"a fused branch re-shuffled the stream on user_id:\n$plan")
  }

  test("q65 gate row: typed fused pass keeps the zero-re-exchange property") {
    val dir = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("q65_fused_event_suite")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).isEmpty,
      s"a q65 branch re-shuffled the stream on user_id:\n$plan")
    // the typed projection carries exactly the solos' cardinalities
    val counts = df.groupBy("q").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val solos = Seq("q60" -> "q60_conversion_funnel",
      "q61" -> "q61_cohort_retention", "q62" -> "q62_transition_matrix",
      "q63" -> "q63_interarrival_stats")
    for ((tag, name) <- solos)
      assert(counts(tag) == SparkEntry.queries(name)(spark, dir).count(),
        s"q65 branch $tag lost or duplicated rows")
  }

  test("clearStaged releases Q.staged checkpoint blocks (no leak)") {
    // every staged frame is a checkpoint whose localCheckpoint RDD blocks
    // a plan-level unpersist cannot see: q65's fused base (a full events
    // copy), d02's pair list and d24's k-NN graph, edges and labels must
    // all be released
    val dir = "/root/testdata/sf0.001"
    val inputs = Seq[() => Unit](
      () => SparkEntry.queries("q65_fused_event_suite")(spark, dir).collect(),
      () => graft.ops.DedupOps.d02Pairs(spark, dir).collect(),
      () => SparkEntry.queries("d24_semantic_graph_dedup")(spark, dir).collect())
    for (run <- inputs) {
      graft.ops.Q.clearStaged()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      run()
      val during = spark.sparkContext.getPersistentRDDs.keySet
      assert((during -- before).nonEmpty, "the input left no checkpoint to test against")
      graft.ops.Q.clearStaged()
      val after = spark.sparkContext.getPersistentRDDs.keySet
      assert((after -- before).isEmpty,
        s"clearStaged leaked persisted RDDs: ids ${(after -- before).mkString(",")}")
    }
  }

  test("a gate query run AFTER q65 sees pristine events (fused view is scoped)") {
    // round-10 verdict item 5: fusedBase used to register the
    // repartitioned+sorted checkpoint as the session-wide `events` view;
    // it now registers `events_fused` and the branch SQL is parameterized
    // over the view name. Proof: run q65, then read `events` WITHOUT
    // re-registering — the plan must be a pristine parquet scan (no
    // inherited user_id hashpartitioning / LogicalRDD checkpoint), and
    // the scoped view must exist separately.
    val dir = "/root/testdata/sf0.001"
    // a prior gate query's registration of the raw view...
    graft.ops.Q.events(spark, dir).createOrReplaceTempView("events")
    // ...must survive the fused pass untouched
    SparkEntry.queries("q65_fused_event_suite")(spark, dir).collect()
    assert(spark.catalog.tableExists("events_fused"),
      "fused pass did not register its scoped view")
    val ev = spark.table("events")
    val plan = ev.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan ExistingRDD") && !plan.contains("LogicalRDD"),
      s"`events` inherited the fused checkpointed base:\n$plan")
    assert(plan.contains("Scan parquet") || plan.contains("FileScan"),
      s"`events` is no longer the raw parquet view:\n$plan")
  }

  test("d18 BIGINT headroom bound matches the documented ~10^8 n-gram limit") {
    // pins the CurationOps d18 docstring to the arithmetic: the scaled
    // ratio numerator (ct+1)·(R+B)·10^6 must stay under 2^63. Under
    // uniform bucket load ct ≈ T/B; with comparable corpora (R ≈ T) the
    // largest safe T solves (T/B + 1)(T + B)·10^6 ≤ Long.MaxValue.
    val B = 1024L
    val scale = 1000000L
    def safe(t: Long): Boolean = {
      // exact check via BigInt so the test itself can't overflow
      (BigInt(t) / B + 1) * (BigInt(t) + B) * scale <= BigInt(Long.MaxValue)
    }
    // binary search the uniform-load bound
    var lo = 1L; var hi = Long.MaxValue / scale
    while (lo < hi) {
      val mid = lo + (hi - lo + 1) / 2
      if (safe(mid)) lo = mid else hi = mid - 1
    }
    val uniformBound = lo
    assert(uniformBound >= 9e7.toLong && uniformBound < 1e9.toLong,
      s"uniform-load bound $uniformBound left the documented ~10^8 decade")
    // total single-bucket skew (ct = T): documented ~3·10^6
    def safeSkew(t: Long): Boolean =
      (BigInt(t) + 1) * (BigInt(t) + B) * scale <= BigInt(Long.MaxValue)
    assert(safeSkew(3000000L) && !safeSkew(10000000L),
      "skew bound left the documented ~3*10^6 range")
  }

  test("AQE coalesces shuffle partitions (adaptive enabled)") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val df = graft.ops.Q.table(spark, "/root/testdata/sf0.001", "lineitem")
      .groupBy($"l_suppkey").agg(count(lit(1)))
    df.count()
    assert(df.queryExecution.executedPlan.toString.contains("AQEShuffleRead") ||
      df.rdd.getNumPartitions <= spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }
}
