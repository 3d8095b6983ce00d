package graft

import org.apache.spark.sql.functions._

/** Plan-shape regression guards: these assert the physical plans stay the
  * plans we designed for cluster scale — predicate pushdown into scans,
  * broadcast joins for dims and bucketed range joins, and no accidental
  * nested-loop/cartesian fallbacks. A change that silently degrades one
  * of these shapes would still pass value-level tests but die at 100 TB. */
class PlanQualitySpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def executedPlan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.count() // run so AQE finalizes join strategies
    df.queryExecution.executedPlan.toString
  }

  test("condition DSL predicates push into the parquet scan") {
    val plan = executedPlan("q_condition_dsl")
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("StringStartsWith") || plan.contains("EqualTo(event_type"),
      s"DSL predicate not pushed:\n$plan")
  }

  test("dimension joins broadcast; the fact side never nested-loops") {
    val plan = executedPlan("q5_region_revenue")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("geoip range join plans as broadcast HASH join, not nested loop") {
    val plan = executedPlan("q_geoip")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("minhash LSH never degenerates into a cartesian product") {
    val plan = executedPlan("q_dedup_minhash")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("aggregations run partial then final (map-side combine)") {
    val plan = executedPlan("q1_pricing")
    // two HashAggregate levels around one exchange
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
    assert(plan.contains("Exchange"), plan)
  }

  test("top-k rank filters run as WindowGroupLimit (per-partition top-k)") {
    // Spark 4's InferWindowGroupLimit turns `row_number() <= k` into a
    // partial top-k BEFORE the window's shuffle, so the full scored set
    // never moves. A refactor that breaks the filter shape (or a Spark
    // regression) silently reverts to shuffling everything — catch it.
    for (q <- Seq("q_embed_topk", "q_ann_int8")) {
      val plan = executedPlan(q)
      assert(plan.contains("WindowGroupLimit"),
        s"$q lost the rank-limit pushdown:\n$plan")
    }
  }

  test("fused jaccard threshold evaluates the kernel once per candidate pair") {
    val df = SparkEntry.queries("q_ngram_jaccard")(spark, dir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    // the fused form appears exactly twice: once as the pushed-down
    // isnotnull join post-condition (the per-pair decision) and once in
    // the survivor projection. The unfused `jaccard >= θ` form costs a
    // third per-pair eval (the threshold compare + an inferred isnotnull
    // each re-evaluate the kernel) — catch a regression to it.
    assert("jaccard_threshold".r.findAllIn(plan).length <= 2, plan)
    assert(!plan.contains("jaccard_long("), plan)
  }

  /** Scala UDFs in one operator's expressions; in the chains below, the
    * only ones are Grok matches. */
  private def udfs(op: org.apache.spark.sql.execution.SparkPlan) =
    op.expressions.flatMap(_.collect {
      case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
    })

  test("weblog chain evaluates each Grok once per row and scans its source once") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    val tmp = java.nio.file.Files.createTempDirectory("weblog-plan")
    val df = WeblogChain.frame(spark, WeblogChain.writeInput(tmp))
    try {
      val rows = df.collect()
      assert(rows.nonEmpty)
      val plan = df.queryExecution.executedPlan
      val ops = WeblogChain.operators(plan)
      // two Grok boxes (main match, guarded fallback): one UDF each. The
      // inlined form copied the match into the Drop filter and the later
      // projections, about fifteen per row
      assert(ops.map(udfs(_).size).sum <= 2, s"Grok match evaluated more than once per box:\n$plan")
      ops.collect { case f: FilterExec => f }.foreach { f =>
        assert(udfs(f).isEmpty, s"Grok UDF inside a Filter:\n$f")
      }
      val scans = ops.collect { case s: FileSourceScanExec => s }
      scans.foreach { s =>
        assert(s.dataFilters.forall(_.find(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]).isEmpty),
          s"Grok UDF pushed into the scan's DataFilters:\n$s")
      }
      // the reserve bound's max(ts) and the aggregation read one memo of
      // the chain, not a second run of it
      assert(scans.size == 1, s"source scanned ${scans.size} times:\n$plan")
    } finally graft.core.CacheRegistry.drain()
    for (q <- Seq("q_grok", "q_fail_tag")) {
      val plan = executedPlan(q)
      assert("UDF\\(".r.findAllIn(plan).length == 1, s"$q runs the Grok match more than once:\n$plan")
    }
  }

  test("a Drop before Grok still reaches the scan; a Drop on a Grok field stays above the match") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec}
    val tmp = java.nio.file.Files.createTempDirectory("grok-pushdown")
    val in = tmp.resolve("in").toString
    Seq(("GET 200", Some("edge-1")), ("POST 404", Some("edge-2")), ("PUT 500", None))
      .toDF("message", "host").write.parquet(in)
    def run(filters: String) = {
      val pipe = graft.pipeline.Planner.fromYaml(
        s"inputs:\n  - Parquet: {path: '$in'}\nfilters:\n$filters" +
          "outputs:\n  - Stdout: {}\n")
      val df = pipe.transform(graft.pipeline.Planner.input(spark, "Parquet", Map("path" -> in)))
      val verbs = df.collect().map(r => r.getString(r.fieldIndex("verb"))).sorted.toSeq
      val plan = df.queryExecution.executedPlan
      val scans = WeblogChain.operators(plan).collect { case s: FileSourceScanExec => s }
      assert(scans.size == 1, plan)
      (verbs, plan, "PushedFilters: \\[[^\\]]*host".r.findFirstIn(scans.head.toString).nonEmpty)
    }
    val grok = "  - Grok: {src: message, match: ['^%{WORD:verb} %{INT:code}$']}\n"
    val dropHostless = "  - Drop: {if: ['!Exist(host)']}\n"

    // the reference runs filters in order: a condition on a raw field
    // placed before the Grok is still pushed into the Parquet scan
    val (before, p1, pushed1) = run(dropHostless + grok)
    assert(before == Seq("GET", "POST"))
    assert(pushed1, s"raw-field Drop before Grok not pushed to the scan:\n$p1")

    // a condition on a Grok field filters ABOVE the single match
    // projection: pushing it below would inline the UDF into the filter
    val (after, p2, _) = run(grok + "  - Drop: {if: ['EQ(verb,\"POST\")']}\n")
    assert(after == Seq("GET", "PUT"))
    val ops = WeblogChain.operators(p2)
    assert(ops.map(udfs(_).size).sum == 1, s"Grok match not evaluated exactly once:\n$p2")
    val drop = ops.collect { case f: FilterExec => f }
    assert(drop.size == 1 && udfs(drop.head).isEmpty, s"Drop on a Grok field:\n$p2")
    assert(drop.head.find { case p: ProjectExec => udfs(p).nonEmpty; case _ => false }.nonEmpty,
      s"the Drop on a Grok field is not above the Grok projection:\n$p2")

    // the price of the barrier: the same raw-field Drop placed after the
    // Grok stays above the match too, as it would in the reference
    val (late, p3, pushed3) = run(grok + dropHostless)
    assert(late == Seq("GET", "POST"))
    assert(!pushed3, s"a Drop after Grok was pushed below the match:\n$p3")
  }

  test("passage dedup keeps its single-shuffle window shape") {
    // the round-4 refactor: the corpus's token windows flow through ONE
    // fp-partitioned exchange into the lag/sum/min window stack, then one
    // id-partitioned exchange for the span merge — no groupBy+join-back
    // (which re-scanned the corpus) and no corpus-sized checkpoint. At
    // 23% of the whole bench this shape must not silently regress.
    val df = SparkEntry.queries("q_passage_dedup")(spark, dir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected exactly 2 exchanges (fp, id), got $exchanges:\n$plan")
    assert(!plan.contains("Scan ExistingRDD"), // a checkpoint would scan an RDD
      s"passage dedup re-introduced a materialization barrier:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"passage dedup re-introduced a join-back:\n$plan")
  }

  test("fused hamming drop: verify in the join condition, map-side drop collapse, no pair frame") {
    val df = SparkEntry.queries("q_hamming_drop")(spark, dir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    // candidates come from a banded EQUI-join — never a cross/nested-loop
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the hamming verify lives IN the join condition (one eval per
    // candidate, nothing materialized between join and verify)
    val verifyLine = plan.linesIterator.find(_.contains("bit_count")).getOrElse("")
    assert(verifyLine.contains("Join"), s"hamming verify left the join condition:\n$plan")
    // the pair stream collapses map-side: partial + final HashAggregate
    // on the drop id, then straight into the left_anti — a pair frame
    // materialized between them would show as an extra exchange/scan
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
    assert(plan.contains("LeftAnti"), plan)
  }

  test("semantic dedup: one memoized assignment, cosine in the cell join, fused drop") {
    val df = SparkEntry.queries("q_semantic_dedup")(spark, dir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    // the pair join is an EQUI-join on cell_id with the cosine verify
    // fused into its condition — the only row-multiplying step, bounded
    // by cell population
    val pairLine = plan.linesIterator
      .find(l => l.contains("Join [cell_id") && l.contains("dot_d")).getOrElse("")
    assert(pairLine.nonEmpty, s"cell pair join lost the fused cosine verify:\n$plan")
    // the centroid assignment is computed once and memoized (persist —
    // lineage-preserving, unlike a checkpoint's raw RDD scan); both join
    // sides read the cache
    assert(plan.contains("InMemoryRelation"), s"assignment memo gone:\n$plan")
    // fused drop aggregate + anti join, same shape as hamming drop
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("incremental dedup: fingerprint anti join stays a hash join on 16-byte keys") {
    val plan = executedPlan("q_dedup_incremental")
    // the seen-store probe must anti HASH join on the md5 key — a nested
    // loop here would be increment × store at every daily run
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("incremental near-dup: banded store join, never increment × store") {
    val plan = executedPlan("q_dedup_incremental_near")
    // candidate generation equi-joins on (band, chunk); hamming verify is
    // a post-join filter over two longs. A cartesian/nested-loop fallback
    // would make every increment scan the whole fingerprint store.
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("LeftAnti"), plan)
  }

  test("store-path exact dedup: Bloom prefilter, store scanned never shuffled") {
    val plan = executedPlan("q_dedup_store_exact")
    // the sidecar path: the bloom probe + store-semi confirm run EAGERLY
    // behind matched's checkpoint barrier (their shape is pinned in
    // IncrementalStoreSpec — one literal, bounded plan, coincidence and
    // fold specs), so the visible plan is the final form: the increment
    // anti-joins a BROADCAST of the checkpointed matched set. A
    // SortMergeJoin here means the store (10^10 rows at scale) is being
    // shuffled every daily run; a missing ExistingRDD scan means the
    // barrier (and with it the per-union-branch re-derivation guard) is
    // gone.
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.contains("Scan ExistingRDD"), s"matched not barriered:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"store side shuffled:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("store-path near dedup: pre-banded store scan, no Generate, no store shuffle") {
    val df = SparkEntry.queries("q_dedup_store_near")(spark, dir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    // the join reads the band-partitioned sidecar directly — the explode
    // that r7 re-ran over the whole store every run is gone. The marker is
    // the scan's band partition filter, not the "_banded" path substring:
    // Spark truncates FileScan Locations at ~100 chars, so a longer tmp
    // prefix would cut the path out of the plan string.
    assert(plan.contains("PartitionFilters: [isnotnull(band"),
      s"banded sidecar path not taken:\n$plan")
    // the only Generate (posexplode) belongs to the INCREMENT's key
    // explode (it renders once in the live plan and possibly once more
    // inside the cached key memo); the banded scan itself carries none —
    // the fallback path would show a second live Generate over the store
    // and no _banded scan at all
    assert(plan.contains("BroadcastHashJoin"), s"increment not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"store side shuffled:\n$plan")
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("anti join-backs over a UNION corpus don't re-derive the drop set per branch") {
    // PushdownLeftSemiOrAntiJoin clones the anti join's right side into
    // every union branch. Un-persisted, that re-runs the ENTIRE drop
    // pipeline once per branch (measured 100× work on a 100-file corpus);
    // joinBackOnce pins it behind a cache so branches share one
    // computation. Guard: after optimization, no anti/semi right side may
    // contain a join or aggregate — only the cached id scan.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val docsU = (0 until 5).map(i => docs.select(
      (col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
      .reduce(_ union _)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val embU = (0 until 5).map(i => emb.select(
      (col("vec_id") + lit(i * 1000000L)).as("vec_id"), col("embedding")))
      .reduce(_ union _)
    val cases = Seq(
      "hamming drop" -> graft.ml.Dedup.dropDuplicatesHamming64(docsU, "text", "doc_id"),
      "semantic dedup" -> graft.ml.Similarity.semanticDedup(embU, "embedding", "vec_id"),
      "decontaminate" -> graft.ml.Dedup.decontaminate(
        docsU, docs.limit(10), "text", "doc_id"))
    for ((name, out) <- cases) {
      val antiRights = out.queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType == LeftAnti || j.joinType == LeftSemi => j.right
      }
      assert(antiRights.nonEmpty, s"$name lost its anti join")
      for (r <- antiRights)
        assert(r.collect { case a: Aggregate => a; case j: Join => j }.isEmpty,
          s"$name re-derives the drop set inside a union branch:\n$r")
    }
  }

  test("column pruning reaches the scan for narrow projections") {
    val df = SparkEntry.queries("q_json_convert")(spark, dir)
    df.count()
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!scan.contains("event_type"), s"unused column not pruned: $scan")
  }

  test("quota sampling runs as WindowGroupLimit, bounded state per group") {
    val plan = executedPlan("q_quota_sample")
    // per-partition top-n per group BEFORE the shuffle: a plain Window
    // here would materialize every group in full on one task
    assert(plan.contains("WindowGroupLimit"), s"rank filter not pushed:\n$plan")
  }

  test("global shuffle is a range shuffle + sort, never a single-partition stage") {
    // the TeraSort plan: orderBy samples range bounds and sorts within
    // partitions — a Window/single-partition Exchange here would funnel
    // the whole corpus through one task at export time
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val df = graft.ml.DatasetOps.globalShuffle(docs, "doc_id", "x")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Sort"), plan)
    assert(plan.toLowerCase.contains("rangepartitioning"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("rename-clobber pipeline is one zero-exchange codegen'd projection") {
    // the whole Add→Rename chain (index render + overwrite-rename) must
    // fuse into a flat per-row projection — at 100 TB it runs at scan
    // speed; an Exchange or a lost codegen span means a filter stage
    // regressed into a shuffle or a fallback expression
    for (q <- Seq("q_rename_clobber", "q_map_delete")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.count()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$q shuffles:\n$plan")
      assert(plan.contains("*(1)"), s"$q left codegen:\n$plan")
    }
  }

  test("encoding-artifact and dup-line scoring stay zero-exchange narrow maps") {
    // both are per-row quality signals (regexp counts / sorted-neighbor
    // line flags) — at 100 TB they must score at scan speed; any
    // Exchange here means a kernel regressed into a shuffle
    for (q <- Seq("q_mojibake", "q_dup_lines")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.count()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$q shuffles a narrow map:\n$plan")
      // "*(n)" is executedPlan.toString's whole-stage-codegen marker
      assert(plan.contains("*(1)"), s"$q left codegen:\n$plan")
    }
    // script-class profiling: same zero-exchange narrow-map contract
    // (no codegen-span assertion — higher-order array filters are
    // CodegenFallback expressions by design)
    val sp = executedPlan("q_script_profile")
    assert(!sp.contains("Exchange"),
      s"q_script_profile shuffles a narrow map:\n$sp")
    assert(!sp.contains("Join"), s"q_script_profile joins:\n$sp")
  }

  test("minhash band-stats audit never enumerates pairs: no join, " +
      "bounded exchanges") {
    // the ivfProbeStats contract: band-cost statistics come from bucket
    // sizes (explode → partial-agg group-bys), never a bucket self-join —
    // a Join here means the audit regressed into the O(candidates) pair
    // enumeration it exists to avoid pricing
    for (q <- Seq("q_minhash_bands", "q_simhash_bands")) {
      val plan = executedPlan(q)
      assert(!plan.contains("Join"), s"$q band stats joins:\n$plan")
      // repartition barrier + two agg exchanges and nothing else
      assert("Exchange".r.findAllIn(plan).size <= 3,
        s"$q band stats shuffles more than repartition+2 aggs:\n$plan")
      assert(plan.contains("partial"), s"$q: no map-side partial agg:\n$plan")
    }
    // the calibration audit is per-row array arithmetic + one count-only
    // group-by: same no-pair-join bound
    val cal = executedPlan("q_minhash_calibration")
    assert(!cal.contains("Join"), s"q_minhash_calibration joins:\n$cal")
    assert("Exchange".r.findAllIn(cal).size <= 3,
      s"q_minhash_calibration shuffles more than barrier+agg:\n$cal")
    assert(cal.contains("partial"),
      s"q_minhash_calibration: no map-side partial agg:\n$cal")
  }

  test("degree-stats audit is statistics, never a join") {
    // same discipline as the band stats: the skew pre-flight must come
    // from group sizes (per-side partial-agg groupBy + 1-row aggregate),
    // never a self-join — and each side's percentile buffer holds one
    // value per NODE, so no per-edge data crosses the final exchange
    val plan = executedPlan("q_graph_degrees")
    assert(!plan.contains("Join"), s"q_graph_degrees joins:\n$plan")
    assert(plan.contains("partial"),
      s"q_graph_degrees: no map-side partial agg:\n$plan")
  }

  test("multimodal decode stays narrow: no shuffle between synthesis and decode") {
    // the decode seam is mapPartitions over mapPartitions (plus a union
    // for the mixed gate) — payload bytes must never cross an Exchange;
    // at 100 TB of media an accidental shuffle here moves the whole
    // corpus instead of the metadata. r19: the synthesis functions spread
    // the BARE-ID projection through one pinned keyed repartition before
    // any bytes exist (graft.core.Spread), so the allowed exchanges are
    // exactly those REPARTITION_BY_NUM id spreads — anything else (an
    // ENSURE_REQUIREMENTS shuffle, a payload-carrying exchange) still
    // fails the pin.
    for (q <- Seq("q_multimodal_decode", "q_multimodal_audio",
        "q_multimodal_video", "q_multimodal_mixed", "q_multimodal_mp3",
        "q_multimodal_ogg", "q_multimodal_webm",
        "q_audio_pcm", "q_image_resize", "q_audio_resample",
        "q_video_frames")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.count()
      val plan = df.queryExecution.executedPlan.toString
      plan.linesIterator.filter(_.contains("Exchange")).foreach { l =>
        // r20: the row-aware spread cap can collapse a tiny fixture's
        // barrier to one partition, which prints as `Exchange
        // SinglePartition, REPARTITION_BY_NUM` (no key in the line) —
        // still the bare-id spread, still payload-free; every other
        // exchange shape keeps failing the pin
        assert(l.contains("REPARTITION_BY_NUM") &&
          (l.contains("doc_id") || l.contains("media_id") ||
            l.contains("SinglePartition")) &&
          !l.contains("content"),
          s"$q shuffles something beyond the bare-id spread:\n$l\n$plan")
      }
    }
  }

  test("perceptual-hash dedup: payload dies at the decode seam, group stats broadcast back") {
    // q_image_phash shuffles only the post-decode 16-byte metadata rows
    // (one hashpartitioning exchange for the hash groupBy); the join of
    // per-image rows against the tiny bucket-stat frame must broadcast,
    // never sort-merge — at corpus scale the stats frame is O(distinct
    // hashes), the image frame is the corpus
    val df = SparkEntry.queries("q_image_phash")(spark, dir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("session sequences: the groupBy reuses the window's partitioning — one exchange total") {
    // assign's window hash-partitions by user_id; the (user_id,
    // session_seq) aggregation is clustered by a superset of that key,
    // so EnsureRequirements must NOT insert a second exchange. At 100 TB
    // a redundant shuffle here doubles the job's network cost.
    val plan = executedPlan("q_session_seq")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected one keyed exchange:\n$plan")
  }

  test("as-of join gate: no join operator at all, one keyed exchange") {
    for (q <- Seq("q_asof_join", "q_asof_tolerance", "q_asof_forward")) {
      val plan = executedPlan(q)
      assert(!plan.contains("Join"), s"$q planned a join:\n$plan")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1, s"$q: expected one keyed exchange:\n$plan")
    }
  }

  test("quality band: threshold broadcasts as one row; corpus side never shuffles") {
    // two scans of documents (threshold aggregate + filter) joined by a
    // 1-row BroadcastNestedLoopJoin — the corpus side must not pay a
    // hash exchange, and the aggregate must combine map-side (its
    // exchange carries one row per partition, not the corpus)
    val plan = executedPlan("q_quality_band")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 0, s"corpus-side shuffle crept in:\n$plan")
  }

  test("salted join: never a cartesian; shuffled form carries the salt in its keys") {
    val plan = executedPlan("q_salted_join")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // at gate scale AQE may broadcast the small dim (fine — salting is
    // then a no-op); force the shuffled path to pin the scale shape
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q_salted_join")(spark, dir)
      df.count()
      val shuffled = df.queryExecution.executedPlan.toString
      assert(shuffled.contains("__graft_salt"),
        s"salt missing from the shuffled join keys:\n$shuffled")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("vocabulary: global top-N is TakeOrdered, never a single-partition sort") {
    val plan = executedPlan("q_vocab")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // map-side combine on the token counts
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
  }

  test("novelty: reference grams join without a broadcast hint collapse to cartesian") {
    val plan = executedPlan("q_novelty")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("zorder: bounds broadcast as one row; the corpus never hash-shuffles") {
    val plan = executedPlan("q_zorder")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 0, s"corpus-side shuffle crept in:\n$plan")
    assert(plan.contains("interleave_bits"), plan)
  }

  test("inverted index: two BOUNDED token exchanges, never a stop-word straggler") {
    val plan = executedPlan("q_inverted_index")
    // df path: partial agg collapses postings map-side before its shuffle
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    // rank path: the maxPostings cut runs as a map-side (Partial)
    // WindowGroupLimit, so no token's full posting chain crosses the wire
    assert(plan.contains("WindowGroupLimit") &&
      plan.contains("Partial"), s"map-side posting cut missing:\n$plan")
    // the final join reuses the token partitioning: exactly the two
    // child exchanges, none for the join itself
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected at most two token exchanges:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("mixture apply: rates broadcast back; the corpus never sort-merges") {
    val plan = executedPlan("q_mix_apply")
    assert(!plan.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    // both hash exchanges aggregate per-source (token mass; the source
    // distinct feeding Σweights) — each bounded by distinct sources.
    // Document rows themselves never shuffle: every hashpartitioning
    // exchange sits above a partial HashAggregate keyed on the source.
    val lines = plan.linesIterator.toVector
    lines.zipWithIndex.foreach { case (l, i) =>
      if (l.contains("Exchange hashpartitioning"))
        assert(lines.drop(i + 1).take(2).exists(c =>
          c.contains("HashAggregate")),
          s"a non-aggregated exchange moved document rows:\n$plan")
    }
  }

  test("quality rules, line filter, and outlink extraction are shuffle-free projections") {
    // all must run at scan speed: any Exchange means a per-row heuristic
    // started paying a distribution cost
    Seq("q_quality_rules", "q_outlinks", "q_c4_lines").foreach { q =>
      val plan = executedPlan(q)
      assert(!plan.contains("Exchange"), s"$q shuffled:\n$plan")
    }
  }

  test("blocklist joins: no cartesian, drop sets memoized not re-derived") {
    Seq("q_block_hosts", "q_block_terms").foreach { q =>
      val plan = executedPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q:\n$plan")
      // the matched set / hit counts enter through the CacheRegistry memo
      // — a UNION corpus must re-scan a cache, not re-run the derivation
      assert(plan.contains("InMemoryTableScan") || plan.contains("Scan In-memory"),
        s"$q drop set not memoized:\n$plan")
    }
  }

  test("pagerank: iterations cut lineage; rank mass aggregates map-side") {
    // r19: the GATE's 13-node graph takes the bounded driver fast path
    // (a parallelized result, no joins at all); the at-scale shape is
    // pinned on the SAME edge construction with the switch forced off
    val gatePlan = executedPlan("q_pagerank")
    assert(!gatePlan.contains("SortMergeJoin") &&
      !gatePlan.contains("BroadcastHashJoin"),
      s"bounded graph no longer takes the driver fast path:\n$gatePlan")
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val r = docs.select((col("doc_id") % 13).as("r")).distinct()
    val edges = r.select(
        concat(lit("h"), col("r").cast("string")).as("src"),
        concat(lit("h"), ((col("r") * col("r") + 1) % 13).cast("string")).as("dst"))
      .union(r.select(
        concat(lit("h"), col("r").cast("string")).as("src"),
        concat(lit("h"), ((col("r") * 2 + 5) % 13).cast("string")).as("dst")))
    val df = graft.ml.LinkGraph.pageRank(edges, "src", "dst",
      driverEdgeLimit = 0L)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // r13: each iteration MATERIALIZES behind a localCheckpoint (without
    // it, iteration k re-derives every previous iteration — quadratic
    // total work the r13 head() audit measured at 4× the linear cost),
    // so the FINAL plan shows exactly the last iteration reading prior
    // state from checkpoint scans…
    assert(plan.contains("Scan ExistingRDD"),
      s"iteration lineage no longer cut:\n$plan")
    // …whose contribution shuffle must still sit above a partial
    // HashAggregate — the map-side combine that absorbs hub hosts'
    // in-degree skew (a hub's raw in-edge contribution list must never
    // cross the wire to one reducer)
    val lines = plan.linesIterator.toVector
    val partials = lines.count(l =>
      l.contains("HashAggregate") && l.contains("partial_sum"))
    assert(partials >= 1, s"iteration lost its map-side combine:\n$plan")
  }

  test("langid classify: zero exchanges, no window — a single narrow map") {
    // The profile table is embedded in the plan as map literals (the BPE
    // merge-table contract), so classification must not pay ANY shuffle,
    // window, or generate: one projection over the corpus, argmin in-row.
    // The r11 shape (explode → 2 groupBy exchanges → 2 windows → profile
    // join) was the slowest headline query at 5.1 s; this pin keeps the
    // rewrite from regressing back.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val profiles = graft.ml.LangId.trainProfiles(docs, "text", "lang")
    val out = graft.ml.LangId.classify(docs, "text", "doc_id", profiles)
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"classify gained a shuffle:\n$plan")
    assert(!plan.contains("Window"), s"classify gained a window:\n$plan")
    assert(!plan.contains("Generate"), s"classify gained an explode:\n$plan")
    assert(!plan.contains("Join"), s"classify gained a join:\n$plan")
  }

  test("langid training: pre-counted kernel explode, bounded rank window") {
    // trainProfiles explodes the codegen'd per-doc (gram, cnt) multiset
    // (trigram_counts), NOT one row per trigram occurrence — repetitive
    // text must cost its repetition factor less before the partial agg.
    // Shape: explode → groupBy(lang, gram) exchange → per-lang rank
    // window (own exchange) whose <= topK filter prunes map-side.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val prof = graft.ml.LangId.trainProfiles(docs, "text", "lang")
    prof.count()
    val plan = prof.queryExecution.executedPlan.toString
    assert(plan.contains("trigram_counts"),
      s"occurrence-level explode crept back:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter lost its map-side prune:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2, s"training shape changed:\n$plan")
  }

  test("quality classifier gate: zero-exchange pruned scan, kernel in codegen") {
    // the embedded-weights logit is a narrow map (the LangId classify
    // contract): no shuffle, no join, and the scan reads ONLY the two
    // columns the gate projects — lang/source/n_chars must prune away
    val plan = executedPlan("q_quality_clf")
    assert(!plan.contains("Exchange"), s"clf scoring gained a shuffle:\n$plan")
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("quality_clf_logit"), plan)
    val schema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(schema.contains("doc_id") && schema.contains("text"), plan)
    assert(!schema.contains("n_chars") && !schema.contains("source"),
      s"column pruning lost:\n$schema")
  }

  test("dsir gate: after the bounded count drains, weigh+keep is a narrow map") {
    // Dsir.model() drains the two count frames EAGERLY at plan build
    // (bounded take — the LangId profile contract), so the frame the
    // gate returns is a zero-exchange projection: ratio/log-ratio
    // lookups against plan-literal arrays plus the portable01 threshold
    val plan = executedPlan("q_dsir")
    assert(!plan.contains("Exchange"), s"dsir weigh gained a shuffle:\n$plan")
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("quality_clf_buckets"), plan)
  }

  test("curate pipeline: the scoring prefix (rules→clf→dsir keep) is zero-exchange") {
    // q_curate_rank's contract: everything BEFORE the dedup stage —
    // Gopher rules, the classifier logit, the DSIR weigh and the
    // hash-threshold keep — is a narrow map over the scan, so at 100 TB
    // curation scores at scan speed and only the survivor set pays a
    // shuffle. Pin the prefix exactly as the gate builds it.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ruled = graft.ml.TextAnalysis.gopherRules(docs, "text",
      minStopHits = 1, drop = true)
    val model = graft.functions.QualityClfModel(
      graft.ml.QualityClassifier.syntheticWeights(12), 12,
      bigrams = true, bias = 0.0)
    val scored = graft.ml.QualityClassifier.score(ruled, "text", model)
      .filter(col("quality_logit") > 0.0)
    val m = graft.ml.Dsir.model(
      graft.ml.Dsir.ngramCounts(docs.filter(col("doc_id") < 50), "text", 12),
      graft.ml.Dsir.ngramCounts(docs, "text", 12), 12)
    val weighed = graft.ml.Dsir.weigh(scored, "text", "doc_id", m)
    val kept = weighed.filter(graft.ml.Dsir.thresholdKeep(weighed, "doc_id"))
    kept.count()
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"curation prefix gained a shuffle:\n$plan")
    assert(!plan.contains("Join"), s"curation prefix gained a join:\n$plan")
    assert(plan.contains("quality_clf_logit") &&
      plan.contains("quality_clf_buckets"), plan)
    // the full gate adds ONLY the dedup stage's plumbing — no cartesian
    val full = executedPlan("q_curate_rank")
    assert(!full.contains("CartesianProduct"), full)
  }

  test("corpus diff: hash-projected full-outer merge join, no cartesian") {
    val plan = executedPlan("q_corpus_diff")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("FullOuter"), plan)
    // the join moves (id, hash) rows only — each exchange's direct child
    // is the Project that already reduced the document to its xxhash64
    val lines = plan.linesIterator.toVector
    val exchangeChildren = lines.zip(lines.drop(1)).collect {
      case (ex, child) if ex.contains("Exchange hashpartitioning") => child
    }
    assert(exchangeChildren.size == 2 &&
      exchangeChildren.forall(_.contains("xxhash64")),
      s"document bodies crossed an exchange:\n$plan")
  }

  test("ivf probe-cost audit: cell statistics only, never a per-vector join") {
    // the 100 TB contract of ivfProbeStats: candidates come from the
    // index's CELL SIZES (a numCells-bounded frame, broadcast onto the
    // probes) — a regression to joining the assigned VECTORS would scan
    // and shuffle the corpus per query batch
    val plan = executedPlan("q_ann_probes")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"probe stats shuffled a corpus-sized side:\n$plan")
    assert(!plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"),
      plan) // centroids ride as an explicit broadcast cross join
    // the per-vector embedding column must never reach the stats side of
    // the final aggregation (only cell_id + counts flow)
    val aggTail = plan.linesIterator.dropWhile(!_.contains("n_candidates"))
      .take(3).mkString("\n")
    assert(!aggTail.contains("embedding"), s"vectors crossed into stats:\n$plan")
  }

  test("approx percentile gate: sketch aggregate with map-side partials intact") {
    // the GK sketch must partial-aggregate before the window×group
    // exchange like every other stats column — a final-only aggregate
    // would ship raw values across the shuffle
    val plan = executedPlan("q_link_stats_pct_approx")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"approx percentile lost its typed aggregate:\n$plan")
    assert(plan.contains("partial_percentile_approx") ||
      "partial.*percentile_approx".r.findFirstIn(plan).nonEmpty,
      s"sketch is not partial-aggregated map-side:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("job counts: one-job counted append, coalesce(1) drain, " +
      "checkpoint-first drain") {
    // exact jobs of construction + count(), as the bench counts a query:
    // an extra action in any of these shows here even where wall time
    // would hide it in noise
    val counter = new graft.streaming.Observability.JobCounter(spark)
    def jobs(q: String): Int =
      counter.count(q)(SparkEntry.queries(q)(spark, dir).count())._2.jobs
    try {
      val pinned = Seq("q_vocab_store", "q_dsir", "q_langid")
      assert(pinned.map(q => q -> jobs(q)).toMap ==
        Map("q_vocab_store" -> 12, "q_dsir" -> 9, "q_langid" -> 7))
    } finally counter.close()
  }

  test("job counts: a steady curate increment computes its fingerprints once") {
    // a non-first increment against a store with a valid Bloom sidecar:
    // the probe's fingerprint memo feeds the post-commit append, and the
    // sidecar markers compare with footer row counts, not count jobs
    import graft.pipeline.{CurateIncrement, Planner}
    val root = java.nio.file.Files.createTempDirectory("curate-jobs").toString
    val store = s"$root/fps"
    def increment(day: Int): Unit =
      Planner.fromYaml(CurateIncrement.yaml(CurateIncrement.write(root, day),
        store, s"$root/out-$day")).runBatch(spark): Unit
    increment(0)
    assert(new java.io.File(s"$store/_bloom/bloom.bin").isFile)
    val counter = new graft.streaming.Observability.JobCounter(spark)
    val counts = try counter.count("curate")(increment(1))._2
      finally counter.close()
    assert(graft.ml.Dedup.storeDataFiles(spark, store).size == 2)
    assert(counts.jobs <= 15, counts.jobStages.mkString("\n"))
  }
}
