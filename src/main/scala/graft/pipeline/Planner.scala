package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.conditions.ConditionFilter
import graft.filters._
import graft.operators.{LinkMetric, LinkMetricExact, LinkStatsMetric, LinkUniqMetric}
import PipelineConfig.ConfigOps

/** Spec → executable pipeline (reference: gohangout.go:80-111
  * buildPluginLink + topology wiring).
  *
  * The whole filter chain compiles to ONE declarative DataFrame transform:
  * Catalyst sees a single plan and fuses/pushes/prunes across operator
  * boundaries — there is no per-event interpreter. Multiple inputs are
  * UNION ALL (reference runs them concurrently into the same chain);
  * multiple outputs each see every event, gated by their own `if`
  * (reference: topology/output.go:51-64).
  */
object Planner {

  // ---- filters ------------------------------------------------------------

  def filterStage(name: String, conf: Map[String, Any]): DataFrame => DataFrame = {
    val ifConds = conf.strSeq("if")
    val addFields = conf.strMap("add_fields")
    val removeFields = conf.strSeq("remove_fields")
    val failTag = conf.str("failTag")

    def box(f: EventFilter): DataFrame => DataFrame =
      FilterBox(f, ifConds, addFields, removeFields, failTag).stage

    name match {
      case "Add" => box(AddFilter(conf.strMap("fields"), conf.bool("overwrite", true)))
      case "Remove" => box(RemoveFilter(conf.strSeq("fields")))
      case "Rename" => box(RenameFilter(conf.strMap("fields")))
      case "Lowercase" => box(CaseFilter(conf.strSeq("fields"), upper = false))
      case "Uppercase" => box(CaseFilter(conf.strSeq("fields"), upper = true))
      case "URLDecode" => box(UrlDecodeFilter(conf.strSeq("fields")))
      case "Gsub" =>
        val subs = conf("fields").asInstanceOf[Seq[Any]].map {
          case s: Seq[_] if s.length == 3 =>
            (s(0).toString, s(1).toString, s(2).toString)
          case other => sys.error(s"Gsub fields entries must be [field, src, repl]: $other")
        }
        box(GsubFilter(subs))
      case "Replace" =>
        box(ReplaceFilter(conf.strReq("src"), conf.strReq("old"),
          conf.strReq("new"), conf.int("count", -1)))
      case "Split" =>
        box(SplitFilter(conf.strReq("src"), conf.strReq("sep"),
          conf.strSeq("fields"), conf.int("maxSplit", -1),
          conf.str("trim"), conf.bool("ignore_blank", true)))
      case "KV" =>
        box(KvFilter(conf.strReq("src"), conf.strReq("field_split"),
          conf.strReq("value_split"), conf.strSeq("include_keys"),
          conf.strSeq("exclude_keys"), conf.str("trim"), conf.str("trim_key"),
          conf.str("target")))
      case "Convert" =>
        val fields = conf.anyMap("fields").map { case (f, c) =>
          val cm = c.asInstanceOf[Map[String, Any]]
          f -> ConvertFilter.Spec(cm.strReq("to"),
            cm.bool("remove_if_fail", false),
            cm.get("setto_if_fail"), cm.get("setto_if_nil"))
        }
        box(ConvertFilter(fields))
      case "Date" =>
        box(DateFilter(conf.strReq("src"), conf.strSeq("formats"),
          conf.str("target").getOrElse("@timestamp"), conf.str("location"),
          conf.bool("add_year", false), conf.bool("overwrite", true)))
      case "Grok" =>
        box(GrokFilter(conf.strReq("src"), conf.strSeq("match"),
          conf.strMap("patterns"), conf.bool("ignore_blank", true),
          conf.bool("overwrite", true), conf.str("target"),
          conf.strSeq("pattern_paths")))
      case "Json" =>
        box(JsonFilter(conf.strReq("field"), conf.str("target"),
          conf.str("schema").map(org.apache.spark.sql.types.StructType.fromDDL),
          conf.strSeq("include"), conf.strSeq("exclude"),
          conf.bool("overwrite", true), conf.bool("infer", false)))
      case "Translate" =>
        box(TranslateFilter(conf.strReq("source"), conf.strReq("target"),
          conf.strMap("dictionary"), conf.str("dictionary_path"),
          conf.int("refresh_interval", 300)))
      case "IPIP" =>
        // reference: filter/ipip.go:32-135 — src IP field, interval DB,
        // optional target wrapping. The binary datx/ipdb file becomes a
        // tabular range dim (CIDR CSV via GeoIp.loadCidrCsv); the lookup is
        // a broadcast bucketed range HASH join, not a per-event trie walk.
        // Default target "geoip" nests attributes in a struct like the
        // reference; `target: ''` spreads them top-level.
        val ipSrc = conf.strReq("src")
        val database = conf.strReq("database")
        val ipTarget = conf.str("target").getOrElse("geoip")
        val bucketBits = conf.int("bucket_bits", 16)
        df => {
          val ranges = graft.operators.GeoIp.loadCidrCsv(df.sparkSession, database)
          val attrs = ranges.columns.filterNot(Set("ip_from", "ip_to")).toSeq
          val guard = ifConds.map(ConditionFilter.compile(_, df))
            .reduceOption(_ && _).getOrElse(lit(true))
          val enriched = graft.operators.GeoIp.enrich(df, ranges, ipSrc, bucketBits)
          // honor the box `if`: rows failing the guard keep null attributes
          val gated =
            if (ifConds.isEmpty) enriched
            else attrs.foldLeft(enriched)((d, a) =>
              d.withColumn(a, when(guard, col(s"`$a`"))))
          // box post-processing mirrors FilterBox: success = guarded rows
          // with a range hit (the reference returns `event, false` on a
          // lookup miss, filter/ipip.go:97-101)
          val matched = attrs.map(a => col(s"`$a`").isNotNull).reduce(_ || _)
          val succ = guard && matched
          var out = gated
          addFields.foreach { case (k, v) =>
            out = graft.filters.StageCols.setField(
              out, k, graft.render.Render.compile(v)(out), succ, overwrite = true)
          }
          removeFields.foreach { f =>
            out = graft.filters.StageCols.deleteField(out, f, Some(succ))
          }
          failTag.foreach { tag =>
            out = graft.filters.StageCols.appendTag(out, tag, guard && !matched)
          }
          if (ipTarget.isEmpty) out
          else out
            .withColumn(ipTarget, struct(attrs.map(a => col(s"`$a`")): _*))
            .drop(attrs: _*)
        }
      case "Drop" => box(DropFilter)
      case "Filters" =>
        // only `if` composes over a nested chain; the other box options
        // are ambiguous on a composite (tag WHICH failure? add before or
        // after?) — silently dropping them contradicts the loud-error
        // convention, so reject like the corpus stages do
        if (addFields.nonEmpty || removeFields.nonEmpty || failTag.nonEmpty)
          sys.error("Filters (nested chain) supports only the `if` box " +
            "option — set add_fields/remove_fields/failTag on the inner " +
            "stages instead")
        val inner = conf("filters").asInstanceOf[Seq[Any]].map {
          case m: Map[_, _] if m.size == 1 =>
            val (k, v) = m.head.asInstanceOf[(String, Map[String, Any])]
            (k, Option(v).getOrElse(Map.empty[String, Any]))
          case other => sys.error(
            s"Filters entries must be single-key stage maps, got: $other")
        }
        df => inner.foldLeft(df) { case (d, (n, c)) =>
          filterStage(n, c + ("if" -> (ifConds ++ c.strSeq("if"))))(d)
        }
      case "LinkMetric" =>
        val cfg = LinkMetric.Config(conf.strReq("fieldsLink"),
          conf.long("batchWindow", 60), conf.long("reserveWindow", 0),
          conf.str("timestamp").getOrElse("@timestamp"),
          conf.bool("drop_original_event", true),
          conf.bool("reduce", false))
        df => metricStage(df, cfg, LinkMetric.batch(cfg), LinkMetric.streaming(cfg))
      case "LinkStatsMetric" =>
        val cfg = LinkMetric.Config(conf.strReq("fieldsLink"),
          conf.long("batchWindow", 60), conf.long("reserveWindow", 0),
          conf.str("timestamp").getOrElse("@timestamp"),
          conf.bool("drop_original_event", true),
          conf.bool("reduce", false),
          conf.strSeq("percentiles").map(_.toDouble),
          conf.bool("percentiles_approx", false),
          conf.int("approx_accuracy", 10000))
        df => metricStage(df, cfg, LinkStatsMetric.batch(cfg), LinkStatsMetric.streaming(cfg))
      case "LinkUniqMetric" =>
        // distinct-count sibling: exact in batch, HLL on streams/reduce.
        // `sketch: true` switches to the MERGEABLE topology: raw input →
        // one HLL sketch per (window × group) (the partial that can
        // cross pipelines); input already carrying `uniq_sketch` →
        // set-union merge + estimate
        val cfg = LinkMetric.Config(conf.strReq("fieldsLink"),
          conf.long("batchWindow", 60), conf.long("reserveWindow", 0),
          conf.str("timestamp").getOrElse("@timestamp"),
          conf.bool("drop_original_event", true),
          conf.bool("reduce", false))
        val sketch = conf.bool("sketch", false)
        df =>
          if (sketch && df.columns.contains("uniq_sketch")) {
            if (df.isStreaming) sys.error("LinkUniqMetric sketch-merge is " +
              "batch-only (the partial rows carry no event-time watermark); " +
              "merge per micro-batch inside foreachBatch instead")
            LinkUniqMetric.mergeSketches(cfg)(df)
          }
          else if (sketch) metricStage(df, cfg,
            LinkUniqMetric.batchSketch(cfg), LinkUniqMetric.streamingSketch(cfg))
          else metricStage(df, cfg,
            LinkUniqMetric.batch(cfg), LinkUniqMetric.streaming(cfg))
      case "LinkMetricExact" =>
        // exact reference emission cadence (windowOffset / accumulateMode)
        // via flatMapGroupsWithState; batch falls back to the windowed agg
        val cfg = LinkMetricExact.ExactConfig(conf.strReq("fieldsLink"),
          conf.long("batchWindow", 60), conf.long("reserveWindow", 300),
          conf.int("windowOffset", 0),
          conf.str("accumulateMode").contains("cumulative"),
          conf.str("timestamp").getOrElse("@timestamp"))
        df => if (df.isStreaming) LinkMetricExact.streaming(cfg)(df)
              else LinkMetric.batch(LinkMetric.Config(cfg.fieldsLink,
                cfg.batchWindowSec, cfg.reserveWindowSec, cfg.tsColumn))(df)
      case "Sessionize" =>
        // per-event session sequence by inactivity gap (batch analytics /
        // sequence-grouping prep); `summary: true` emits one row per
        // session via the native session_window aggregation instead
        val key = conf.strReq("key")
        val tsc = conf.str("timestamp").getOrElse("@timestamp")
        val gap = conf.long("gap", 1800)
        df =>
          if (conf.bool("summary", false)) {
            // summary streams natively (session_window + watermark state
            // eviction); `lateness` bounds how out-of-order events may be
            val d = if (df.isStreaming)
              df.withWatermark(tsc, conf.str("lateness").getOrElse("0 seconds"))
            else df
            graft.operators.Sessionize.summarize(d, key, tsc, gap)
          } else if (df.isStreaming) {
            // per-event ids must see sessions ACROSS micro-batches, so a
            // per-batch window would be wrong — the keyed-state form
            // confirms each event's id once the watermark passes it.
            // Schema parity (configured names, key type, `target`, the
            // documented payload drop) is the OPERATOR's contract —
            // streamingAssign restores it for every caller, not just
            // this dispatch.
            graft.operators.Sessionize.streamingAssign(df, key, tsc, gap,
              conf.long("lateness", 0),
              conf.str("target").getOrElse("session_seq"))
          } else {
            graft.operators.Sessionize.assign(df, key, tsc, gap,
              conf.str("target").getOrElse("session_seq"))
          }
      case "Funnel" =>
        // ordered steps as condition-DSL strings — the same predicate
        // language as `if` guards, compiled per step
        val steps = conf.strSeq("steps")
        if (steps.isEmpty) sys.error("Funnel needs `steps`, e.g. " +
          """steps: ['EQ(event_type,"view")', 'EQ(event_type,"click")']""")
        val key = conf.strReq("key")
        val tsc = conf.str("timestamp").getOrElse("@timestamp")
        val win = conf.long("window", 86400)
        // ClickHouse windowFunnel mode flags, e.g. mode: strict_order or
        // modes: [strict_deduplication, strict_increase]
        val modes = (conf.strSeq("modes") ++ conf.str("mode").toSeq).toSet
        val known = Set("strict_order", "strict_dedup", "strict_deduplication",
          "strict_increase")
        val unknown = modes -- known
        if (unknown.nonEmpty) sys.error(s"Funnel: unknown mode(s) " +
          s"${unknown.mkString(", ")} (known: ${known.mkString(", ")})")
        val so = modes.contains("strict_order")
        val sd = modes.contains("strict_dedup") ||
          modes.contains("strict_deduplication")
        val si = modes.contains("strict_increase")
        df => {
          val compiled = steps.map(
            graft.conditions.ConditionFilter.compile(_, df, tsc))
          if (df.isStreaming)
            graft.operators.Funnel.streamingWindowFunnel(df, key, tsc,
              compiled, win, conf.long("lateness", 0), so, sd, si)
          else graft.operators.Funnel.windowFunnel(df, key, tsc, compiled,
            win, so, sd, si)
        }
      case "SequenceCount" | "SequenceMatch" =>
        // ClickHouse sequenceCount / sequenceMatch('(?1).*(?2).*…'):
        // chain steps as condition-DSL strings, like Funnel
        val steps = conf.strSeq("steps")
        if (steps.isEmpty) sys.error(s"$name needs `steps`, e.g. " +
          """steps: ['EQ(event_type,"view")', 'EQ(event_type,"click")']""")
        val key = conf.strReq("key")
        val tsc = conf.str("timestamp").getOrElse("@timestamp")
        df => {
          if (df.isStreaming) sys.error(s"$name is batch-only — on a " +
            "stream run windowFunnel (bounded state) or aggregate per " +
            "micro-batch inside foreachBatch")
          val compiled = steps.map(
            graft.conditions.ConditionFilter.compile(_, df, tsc))
          if (name == "SequenceCount")
            graft.operators.Funnel.sequenceCount(df, key, tsc, compiled)
          else graft.operators.Funnel.sequenceMatch(df, key, tsc, compiled)
        }
      case "Retention" =>
        val key = conf.strReq("key")
        val tsc = conf.str("timestamp").getOrElse("@timestamp")
        // `conditions: [...]` → ClickHouse retention() flag columns
        // (r1..rN per user, unordered anchor/condition semantics);
        // `anchor:` → the (cohort × offset) matrix
        val flagConds = conf.strSeq("conditions")
        if (flagConds.nonEmpty) { df =>
          if (df.isStreaming) sys.error("Retention conditions-mode is " +
            "batch-only — use anchor-mode streaming cohort events instead")
          graft.operators.Retention.retentionFlags(df, key,
            flagConds.map(graft.conditions.ConditionFilter.compile(_, df, tsc)))
        }
        else df => {
          val anchor = graft.conditions.ConditionFilter
            .compile(conf.strReq("anchor"), df, tsc)
          if (df.isStreaming)
            // append-mode per-user cohort events; the consumer counts
            // them into the live matrix
            graft.operators.Retention.streamingCohortEvents(df, key, tsc,
              anchor, conf.long("period", 604800), conf.int("max_offset", 52),
              conf.long("lateness", 0))
          else graft.operators.Retention.cohorts(df, key, tsc, anchor,
            conf.long("period", 604800), conf.int("max_offset", 52))
        }
      case "AsOfJoin" =>
        // point-in-time enrichment: attach the most recent at-or-before
        // `right` row per key. `right` is an input spec like Decontaminate's
        // `benchmark`; carried columns get `suffix` appended.
        val rm = conf.anyMap("right")
        if (rm.isEmpty) sys.error("AsOfJoin needs a `right` input spec, " +
          "e.g. right: {input: Parquet, path: /data/dim.parquet}")
        val keys = conf.strSeq("keys")
        if (keys.isEmpty) sys.error("AsOfJoin needs `keys`")
        val lts = conf.str("timestamp").getOrElse("@timestamp")
        val rts = conf.str("right_timestamp").getOrElse(lts)
        df => {
          if (df.isStreaming) sys.error("AsOfJoin is batch-only (one keyed " +
            "window over left ∪ right) — for streaming enrichment run it " +
            "inside foreachBatch against a temporal store " +
            "(AsOfJoin.enrichFromTemporalStore)")
          val right = input(df.sparkSession, rm.strReq("input"), rm)
          val vals = conf.strSeq("values") match {
            case Seq() => right.columns.toSeq.filterNot(keys.contains)
              .filterNot(_ == rts)
            case vs => vs
          }
          val tol = conf.long("tolerance", -1) match {
            case t if t >= 0 => Some(t); case _ => None
          }
          val sfx = conf.str("suffix").getOrElse("_right")
          conf.str("direction").getOrElse("backward") match {
            case "backward" => graft.operators.AsOfJoin
              .leftAsOf(df, right, keys, lts, rts, vals, sfx, tol)
            case "forward" => graft.operators.AsOfJoin
              .leftAsOfForward(df, right, keys, lts, rts, vals, sfx, tol)
            case "nearest" => graft.operators.AsOfJoin
              .leftAsOfNearest(df, right, keys, lts, rts, vals, sfx, tol)
            case other =>
              sys.error(s"AsOfJoin direction must be backward|forward|nearest, got '$other'")
          }
        }
      case "SaltedJoin" =>
        // skew-resilient equi-join enrichment: `right` is an input spec
        // like AsOfJoin's; hot keys spread over `salt` reducers and the
        // result is row-for-row the plain join (SkewJoin scaladoc)
        val rm = conf.anyMap("right")
        if (rm.isEmpty) sys.error("SaltedJoin needs a `right` input spec, " +
          "e.g. right: {input: Parquet, path: /data/dim.parquet}")
        val lk = conf.strReq("key")
        val rk = conf.str("right_key").getOrElse(lk)
        val salt = conf.int("salt", 16)
        val jt = conf.str("join_type").getOrElse("inner")
        df => {
          if (df.isStreaming) sys.error("SaltedJoin is batch-only (the " +
            "right side re-loads per plan); for streams run it inside " +
            "foreachBatch")
          graft.operators.SkewJoin.saltedJoin(df,
            input(df.sparkSession, rm.strReq("input"), rm), lk, rk, salt, jt)
        }
      case name if CorpusStages.contains(name) =>
        if (ifConds.nonEmpty || addFields.nonEmpty || removeFields.nonEmpty ||
            failTag.nonEmpty)
          sys.error(s"$name is a corpus-level stage: the per-event box " +
            "options (if / add_fields / remove_fields / failTag) do not " +
            "apply — filter or enrich with a preceding stage instead")
        corpusStage(name, conf)
      case "Custom" =>
        // third-party operator escape hatch (reference plugin surface:
        // filter/filter.go:40-61): `class:` names a user class on the
        // classpath. An EventFilter gets the full box semantics like any
        // built-in; a corpus-level plugin rejects them like any built-in
        // corpus stage.
        Plugins.forConf(conf) match {
          case f: EventFilter => box(f)
          case c =>
            if (ifConds.nonEmpty || addFields.nonEmpty ||
                removeFields.nonEmpty || failTag.nonEmpty)
              sys.error(s"custom stage ${c.getClass.getName} is corpus-" +
                "level: the per-event box options (if / add_fields / " +
                "remove_fields / failTag) do not apply — implement " +
                "graft.filters.EventFilter for per-event semantics")
            c match {
              case p: Plugins.CorpusStagePlugin => df => p.transform(df)
              case f1: Function1[_, _] =>
                // The `case Function1[_, _]` match is TYPE-ERASED: a
                // plugin implementing e.g. Function1[String, String]
                // would match here and CCE at first application — in a
                // streaming pipeline that's mid-job, contradicting the
                // fail-the-build-loudly contract. Reflect on the
                // non-bridge apply signature at BUILD time: a plugin
                // class (authored, not a lambda) carries the typed
                // apply(Dataset)Dataset alongside the erased bridge.
                val dsCls = classOf[org.apache.spark.sql.Dataset[_]]
                val applies = f1.getClass.getMethods.toSeq.filter(m =>
                  m.getName == "apply" && !m.isBridge &&
                    m.getParameterCount == 1)
                val typedApply = applies.exists { m =>
                  m.getParameterTypes()(0).isAssignableFrom(dsCls) &&
                    dsCls.isAssignableFrom(m.getReturnType)
                }
                // A typed apply INHERITED from a generic superclass
                // erases to a directly-declared apply(Object)Object that
                // is NOT a bridge (same for a Java plugin authored
                // against the erased signature) — reflection alone can't
                // distinguish it from Function1[String, String]. Accept
                // it provisionally when NO differently-typed apply
                // contradicts it, and probe-apply on a limit(0) slice at
                // wiring time below: a wrongly-typed plugin CCEs there —
                // still plan/build time, never mid-job.
                val erasedOnly = !typedApply && applies.nonEmpty &&
                  applies.forall { m =>
                    m.getParameterTypes()(0) == classOf[Object] &&
                      m.getReturnType == classOf[Object]
                  }
                if (!typedApply && !erasedOnly)
                  sys.error(s"custom class ${f1.getClass
                    .getName} is a Function1 but not (DataFrame => " +
                    "DataFrame) — it implements none of EventFilter / " +
                    "Plugins.CorpusStagePlugin / (DataFrame => DataFrame)")
                // probe at most ONCE per plugin instance: a plugin with
                // plan-building side effects (temp views, accumulators)
                // must not see every input twice on every application
                val probedOk = new java.util.concurrent.atomic.AtomicBoolean(false)
                df => {
                  if (erasedOnly && probedOk.compareAndSet(false, true)) {
                    val probed =
                      try f1.asInstanceOf[Any => Any](df.limit(0))
                      catch {
                        case _: ClassCastException =>
                          probedOk.set(false)
                          sys.error(
                            s"custom class ${f1.getClass.getName} declares " +
                              "apply(Object)Object but rejects a DataFrame " +
                              "— not a (DataFrame => DataFrame) plugin")
                      }
                    if (!probed.isInstanceOf[org.apache.spark.sql.Dataset[_]]) {
                      probedOk.set(false)
                      sys.error(s"custom class ${f1.getClass.getName} " +
                        "returned a non-Dataset from apply(DataFrame) — " +
                        "not a (DataFrame => DataFrame) plugin")
                    }
                  }
                  f1.asInstanceOf[DataFrame => DataFrame](df)
                }
              case other => sys.error(s"custom class ${other.getClass
                .getName} implements none of EventFilter / " +
                "Plugins.CorpusStagePlugin / (DataFrame => DataFrame)")
            }
        }
      case other => sys.error(s"unknown filter '$other'")
    }
  }

  // ---- corpus-level stages (LLM-data operator family) -----------------------

  private val CorpusStages = Set("Dedup", "Decontaminate", "Mix",
    "AssignSplits", "PackSequences", "Chunk", "UrlDedup", "TextProfile",
    "EncodingArtifacts", "DupLines", "ScriptProfile",
    "SemanticDedup", "PassageDedup", "LineDedup", "Shuffle", "QuotaSample",
    "ClusterBalance",
    "Normalize", "ColumnProfile", "MediaDecode", "MediaResize",
    "MediaResample", "MediaFrames", "StripHtml", "QualityBand",
    "SemanticSearch", "IvfAppend", "Vocabulary", "Novelty", "RangeSortedExport",
    "CorpusDiff", "InvertedIndex", "ZOrderExport", "KnnJoin", "BudgetMix",
    "PerplexityScore", "QualityRules", "Outlinks", "HostGraph", "PageRank",
    "LineFilter", "BlockHosts", "BlockTerms", "CompressionRatio", "LangId",
    "PoolEmbeddings", "QualityClassifier", "Dsir")

  /** The LLM-data operators (graft.ml.*) registered by YAML name, the same
    * way the reference registers every filter
    * (reference: filter/filter.go:16-22) — so a config-driven user can run
    * a clean → dedup → decontaminate → mix assembly through `graft.Main`
    * without touching the Scala API. Unlike per-event filters these change
    * corpus CARDINALITY (dedup drops rows, mix samples), so the FilterBox
    * options are rejected rather than silently misapplied.
    *
    * Shared keys: `src` (text column, default "text"), `id_field`
    * (default "id"). Each stage is a thin shim over the library call —
    * semantics, plan shape, and specs live with the operators. */
  def corpusStage(name: String, conf: Map[String, Any]): DataFrame => DataFrame = {
    val text = conf.str("src").getOrElse("text")
    val id = conf.str("id_field").getOrElse("id")
    name match {
      case "Dedup" => conf.str("method").getOrElse("exact") match {
        case "exact" =>
          df => graft.ml.Dedup.dropDuplicatesExact(df, text, id)
        case "minhash" =>
          df => graft.ml.Dedup.dropDuplicates(df,
            graft.ml.Dedup.minhashPairs(df, text, id,
              conf.int("shingle_size", 3), conf.int("num_hashes", 64),
              conf.int("bands", 32), conf.dbl("threshold", 0.9)), id)
        case "hamming" =>
          df => graft.ml.Dedup.dropDuplicatesHamming64(df, text, id,
            conf.int("k", 3), conf.int("bands", 8))
        case "incremental" =>
          // cross-run dedup: drop docs whose fingerprint a previous run
          // recorded in `store` (plus within-increment keep-first), the
          // daily-crawl pattern. `update_store: true` registers the store
          // append as a POST-COMMIT hook — it runs only after the run's
          // sinks succeed, because an eager update would poison a failed
          // run's retry (the re-run would read its own fingerprints from
          // the store and anti-join the whole increment away).
          val store = conf.str("store").getOrElse(sys.error(
            "Dedup method incremental needs `store` (fingerprint parquet path)"))
          val update = conf.bool("update_store", false)
          // near: true switches to simhash64 hamming-k against a sim-long
          // store (paraphrase-level cross-run dedup) — k/bands as in
          // method hamming; default stays exact md5 fingerprints
          val near = conf.bool("near", false)
          val (kOpt, bandsOpt) = (conf.int("k", 3), conf.int("bands", 8))
          // compact_files: when the store's compact level exceeds this
          // many data files N after an update, rewrite it to max(1, N/2)
          // files, below the trigger (daily appends add a file set each;
          // day-300 reads otherwise pay hundreds of parquet footers).
          // 0 disables. See compactAbove.
          val compactFiles = conf.int("compact_files", 0)
          def maybeCompact(spark: SparkSession): Unit =
            compactAbove(spark, store, compactFiles) { target =>
              if (near) graft.ml.Dedup.compactNearStore(spark, store,
                target, bands = bandsOpt)
              else graft.ml.Dedup.compactSeenStore(spark, store, target)
            }
          df => {
            // the store-PATH variants own the read (only a genuinely
            // ABSENT path reads as empty; any other failure — permissions,
            // corrupt footer — fails the run, because silently deduping
            // against an empty set would leak every known duplicate) and
            // use the sidecar indexes the appends maintain: Bloom
            // prefilter + scan-only confirm for exact, the pre-banded
            // (band, chunk) layout for near — the store is scanned, never
            // exploded or shuffled, per run.
            if (near) {
              // `fingerprint_field`: the near store keys on a PRECOMPUTED
              // 64-bit fingerprint column instead of the text simhash —
              // the cross-run MULTIMODAL path (e.g. a MediaDecode stage's
              // perceptual hash: near-dup re-encodes of yesterday's
              // images drop today, same banded sidecar machinery)
              val (fcol, ffn) = conf.str("fingerprint_field") match {
                case Some(f) => (f, (c: Column) => c.cast("long"))
                case None => (text, graft.ml.Dedup.simhash64Fingerprint(_))
              }
              // append with the CONFIGURED banding — the default-bands
              // alias would write an 8-band sidecar that a non-default
              // `bands` query permanently rejects (silent explode
              // fallback on every run)
              if (update) graft.core.PostCommit.register(
                () => { graft.ml.Dedup.appendToNearStore(df, fcol, store,
                    ffn, 64, bandsOpt)
                  maybeCompact(df.sparkSession) })
              graft.ml.Dedup.dropSeenNearStoreBy(
                graft.ml.Dedup.dropDuplicatesHammingBy(
                  df, fcol, id, ffn, 64, kOpt, bandsOpt),
                store, fcol, id, ffn, 64, kOpt, bandsOpt)
            } else {
              // one fingerprint pass per increment: the probe hands back
              // the fingerprints the store lacks, which the post-commit
              // append lands as they are. The hook runs before runBatch's
              // drain, so it reads the probe's fingerprint memo and matched
              // cut cached.
              val (kept, unseen) = graft.ml.Dedup.probeSeenStore(
                graft.ml.Dedup.dropDuplicatesExact(df, text, id),
                graft.ml.Dedup.contentFingerprints(df, text), store, text)
              if (update) graft.core.PostCommit.register(
                () => { graft.ml.Dedup.appendUnseen(unseen, store)
                  maybeCompact(df.sparkSession) })
              kept
            }
          }
        case "clustered" =>
          // connected-component representative policy: keep one row per
          // near-dup CLUSTER (min id), vs the drop-anything-matching-an-
          // earlier-doc policy of the other methods. `pairs` picks the
          // edge generator.
          df => {
            val pairs = conf.str("pairs").getOrElse("minhash") match {
              // collapse_exact defaults ON here: the clustered policy only
              // consumes the pair graph's connected components, which the
              // star-reduction provably preserves — and a boilerplate-heavy
              // corpus otherwise pays a quadratic pair enumeration
              case "minhash" => graft.ml.Dedup.minhashPairs(df, text, id,
                conf.int("shingle_size", 3), conf.int("num_hashes", 64),
                conf.int("bands", 32), conf.dbl("threshold", 0.9),
                collapseExact = conf.bool("collapse_exact", true))
              case "hamming" => graft.ml.Dedup.simhashHammingPairs64(df, text, id,
                conf.int("k", 3), conf.int("bands", 8))
              case other => sys.error(
                s"Dedup clustered pairs must be minhash|hamming, got '$other'")
            }
            conf.str("policy").getOrElse("min_id") match {
              case "min_id" => graft.ml.Dedup.dropDuplicatesClustered(df, pairs, id)
              // keep the cluster's BEST member by a score column instead
              // of whichever crawled first
              case "best" => graft.ml.Dedup.dropDuplicatesClusteredBest(
                df, pairs, id, conf.strReq("score_field"))
              case other => sys.error(
                s"Dedup clustered policy must be min_id|best, got '$other'")
            }
          }
        case other => sys.error(
          s"Dedup method must be exact|minhash|hamming|clustered|incremental, got '$other'")
      }
      case "Decontaminate" =>
        // `benchmark` is an input spec like the top-level `inputs` entries:
        // {input: Parquet, path: …} — plus an optional `src` naming the
        // benchmark frame's text column when it differs from the corpus's
        val bm = conf.anyMap("benchmark")
        if (bm.isEmpty) sys.error("Decontaminate needs a `benchmark` input " +
          "spec, e.g. benchmark: {input: Parquet, path: /data/bench.parquet}")
        val n = conf.int("ngram", 5)
        df => {
          val loaded = input(df.sparkSession, bm.strReq("input"), bm)
          val bench = bm.str("src").filter(_ != text)
            .map(loaded.withColumnRenamed(_, text)).getOrElse(loaded)
          conf.str("method").getOrElse("exact") match {
            case "exact" =>
              graft.ml.Dedup.decontaminate(df, bench, text, id, n)
            case "bloom" =>
              graft.ml.DatasetOps.bloomDecontaminate(df, bench, text, id, n,
                conf.long("expected_items", 1L << 20), conf.dbl("fpp", 0.01))
            // audit twin: emit (doc_id, bench_id, shared_grams) instead
            // of dropping — `bench_id` names the benchmark's id column
            case "report" =>
              graft.ml.Dedup.contaminationReport(df, bench, text, id,
                bm.str("id_field").getOrElse(id), n)
            case other => sys.error(
              s"Decontaminate method must be exact|bloom|report, got '$other'")
          }
        }
      case "Shuffle" =>
        // deterministic global shuffle before export/packing: the order is
        // a pure function of (key_field, seed) — epoch re-shuffles are a
        // seed change, and re-runs reproduce the exact sequence
        val key = conf.str("key_field").getOrElse(id)
        val seed = conf.str("seed").getOrElse("")
        df => graft.ml.DatasetOps.globalShuffle(df, key, seed)
      case "QuotaSample" =>
        // hard per-group cap (≤ n rows per group_field value), hash-chosen
        // — the source-balancing companion to Mix's rate sampling
        val group = conf.strReq("group_field")
        val n = conf.int("n", 0) match {
          case v if v > 0 => v
          case _ => sys.error("QuotaSample needs a positive `n` (max rows per group)")
        }
        val key = conf.str("key_field").getOrElse(id)
        val seed = conf.str("seed").getOrElse("")
        df => graft.ml.DatasetOps.sampleQuota(df, group, key, n, seed)
      case "ClusterBalance" =>
        // embedding-space topic balance: nearest-centroid assignment
        // in-row (zero-shuffle), then at most per_cluster rows per
        // cluster — best score_field first, else lowest id. Centroids
        // from a (cell_id, centroid) input spec, or seeded from the
        // corpus rows with id < num_cells (the IVF convention).
        val vec = conf.str("src").getOrElse("embedding")
        val per = conf.int("per_cluster", 0) match {
          case v if v > 0 => v
          case _ => sys.error("ClusterBalance needs a positive `per_cluster`")
        }
        df => {
          val n = conf.int("num_cells", 16)
          val cents = conf.anyMap("centroids") match {
            case m if m.nonEmpty => input(df.sparkSession, m.strReq("input"), m)
            case _ => trainedCentroids(conf, df, vec, id, n).getOrElse(
              df.filter(col(s"`$id`") < n)
                .select(col(s"`$id`").cast("long").as("cell_id"),
                  col(s"`$vec`").as("centroid")))
          }
          graft.ml.DatasetOps.balanceByCluster(df, vec, id, cents, per,
            conf.str("score_field"))
        }
      case "Mix" =>
        val group = conf.strReq("group_field")
        val weights = conf.strMap("weights").map { case (k, v) => k -> v.toDouble }
        val defaultW = conf.dbl("default_weight", 1.0)
        val seed = conf.int("seed", 0)
        df => graft.ml.DatasetOps.sampleByWeights(df, group, weights, defaultW,
          graft.ml.DatasetOps.hash01(col(s"`${conf.str("key_field").getOrElse(id)}`"), seed))
      case "AssignSplits" =>
        // ordered single-entry maps, like the filter list itself:
        //   splits: [{train: 0.9}, {val: 0.05}, {test: 0.05}]
        val splits = conf.getOrElse("splits",
          sys.error("AssignSplits needs `splits`, e.g. " +
            "splits: [{train: 0.9}, {val: 0.05}, {test: 0.05}]"))
          .asInstanceOf[Seq[Any]].map {
            case m: Map[_, _] if m.size == 1 =>
              val (k, v) = m.head
              k.toString -> v.toString.toDouble
            case other => sys.error(s"bad splits entry (want {name: frac}): $other")
          }
        val seed = conf.int("seed", 0)
        val target = conf.str("target").getOrElse("split")
        df => graft.ml.DatasetOps.assignSplits(df,
          graft.ml.DatasetOps.hash01(col(s"`${conf.str("key_field").getOrElse(id)}`"), seed),
          splits, target)
      case "PackSequences" =>
        df => graft.ml.DatasetOps.packSequences(df, text, id,
          conf.strReq("group_field"), conf.int("budget", 2048))
      case "Chunk" =>
        df => graft.ml.DatasetOps.chunkDocuments(df, text, id,
          conf.int("max_tokens", 512), conf.int("overlap", 0))
      case "UrlDedup" =>
        val url = conf.str("src").getOrElse("url")
        conf.str("mode").getOrElse("drop") match {
          case "drop" => // keep only each canonical URL's min-id row
            df => graft.ml.Dedup.joinBackOnce(df,
              graft.ml.DatasetOps.dedupByUrl(df, url, id)
                .select(col("keeper_id").as(id)),
              Seq(id), "left_semi")
          case "summary" => // the aggregate view (url_norm, keeper_id, n_dups)
            df => graft.ml.DatasetOps.dedupByUrl(df, url, id)
          case other => sys.error(s"UrlDedup mode must be drop|summary, got '$other'")
        }
      case "TextProfile" =>
        df => graft.ml.TextAnalysis.profile(df, text)
      case "ScriptProfile" =>
        // Unicode script-class counts + dominant non-Latin script (the
        // mislabeled-language signal): `flag` (default) appends the
        // count columns and dominant_foreign; `drop` keeps rows whose
        // expected script holds at least `min_frac` of all counted
        // letters (multiply form — no division, exact at the knife
        // edge) and keeps the original schema. Zero-letter and NULL
        // docs are KEPT in drop mode (no script evidence — null policy
        // stays the caller's, the QualityRules keep-shape contract).
        val dropMode = conf.str("mode").getOrElse("flag") match {
          case "drop" => true
          case "flag" => false
          case other =>
            sys.error(s"ScriptProfile mode must be flag|drop, got '$other'")
        }
        val expect = conf.str("expect").getOrElse("latin")
        require(graft.ml.TextAnalysis.scriptRanges.exists(_._1 == expect),
          s"ScriptProfile expect must be one of ${
            graft.ml.TextAnalysis.scriptRanges.map(_._1).mkString(", ")
          }, got '$expect'")
        val minFrac = conf.dbl("min_frac", 0.5)
        df => {
          // NULL text coalesces to "" BEFORE the split, so counts read
          // 0 in EVERY session — never NULL, and never the legacy
          // non-ANSI size(NULL) = -1 sentinel that would bypass a
          // null-guard and silently drop NULL rows (r16 review finding;
          // the EncodingArtifacts coalesce lesson)
          val chars = col("__graft_sp_chars")
          val withChars = df.withColumn("__graft_sp_chars",
            split(coalesce(col(text), lit("")), ""))
          if (!dropMode)
            graft.ml.TextAnalysis.scriptClassCols(chars)
              .foldLeft(withChars) { case (d, (n, c)) => d.withColumn(n, c) }
              .withColumn("dominant_foreign",
                graft.ml.TextAnalysis.dominantForeignCol)
              .drop("__graft_sp_chars")
          else {
            // 2 array traversals per row, not 8: the ranges are
            // disjoint, so the letter total is ONE filter over their
            // union beside the expect-class count — this is the
            // default-on ingest filter and must score at scan speed
            val ranges = graft.ml.TextAnalysis.scriptRanges
            def countIn(rs: Seq[(Int, Int)]) =
              size(filter(chars, c => rs.map { case (lo, hi) =>
                ascii(c) >= lo && ascii(c) <= hi }.reduce(_ || _)))
                .cast("long")
            val total = countIn(ranges.flatMap(_._2))
            val nExpect = countIn(ranges.find(_._1 == expect).get._2)
            // multiply form (no division, exact at the knife edge);
            // zero-letter docs carry no script evidence and are KEPT
            withChars.filter(total === 0L ||
                nExpect.cast("double") >= lit(minFrac) * total)
              .drop("__graft_sp_chars")
          }
        }
      case "EncodingArtifacts" =>
        // mojibake / replacement-char / control-char counts (the broken-
        // decode-chain signal): `flag` (default) appends the three count
        // columns; `drop` filters rows whose counts exceed the per-class
        // maxima (all default 0 — any artifact drops the row) and keeps
        // the original schema. NULL text carries no artifacts in drop
        // mode (counts coalesce to 0 — null policy stays the caller's,
        // matching QualityRules' keep-shape contract).
        val dropMode = conf.str("mode").getOrElse("flag") match {
          case "drop" => true
          case "flag" => false
          case other =>
            sys.error(s"EncodingArtifacts mode must be flag|drop, got '$other'")
        }
        // name-keyed (not positional): a reorder of encodingArtifactCols
        // must never silently apply max_replacement to n_mojibake
        val maxima = Map(
          "n_replacement" -> conf.long("max_replacement", 0L),
          "n_mojibake" -> conf.long("max_mojibake", 0L),
          "n_ctrl" -> conf.long("max_ctrl", 0L))
        df => {
          val cols = graft.ml.TextAnalysis.encodingArtifactCols(col(text))
          if (!dropMode)
            cols.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
          else {
            val keep = cols.map { case (n, c) =>
              val m = maxima.getOrElse(n, sys.error(
                s"EncodingArtifacts: no threshold mapped for column '$n'"))
              coalesce(c, lit(0L)) <= m
            }.reduce(_ && _)
            df.filter(keep)
          }
        }
      case "Outlinks" =>
        // href extraction: (id_field, dst_url, dst_host) exploded per link
        df => graft.ml.LinkGraph.extractOutlinks(df, text, id)
          .withColumn("dst_host", graft.ml.LinkGraph.host(col("dst_url")))
      case "HostGraph" =>
        val dst = conf.strReq("dst")
        val srcUrl = conf.str("src").getOrElse("src_url")
        conf.str("store") match {
          case Some(store) =>
            // cross-crawl webgraph: emitted graph covers store + THIS
            // increment; the increment's counts append via PostCommit
            // (counts merge — an eager append would double-count a
            // failed run's retry), same contract as the Vocabulary store
            val compactAt = conf.int("compact_files", 0)
            df => {
              graft.core.PostCommit.register { () =>
                graft.ml.LinkGraph.appendToHostGraphStore(df, srcUrl, dst, store): Unit
                compactAbove(df.sparkSession, store, compactAt)(
                  graft.ml.LinkGraph.compactHostGraphStore(df.sparkSession, store, _))
              }
              graft.ml.LinkGraph.readHostGraphStore(df.sparkSession, store)
                .unionByName(graft.ml.LinkGraph.hostGraph(df, srcUrl, dst))
                .groupBy("src_host", "dst_host")
                .agg(sum("n_links").as("n_links"))
            }
          case None =>
            df => graft.ml.LinkGraph.hostGraph(df, srcUrl, dst)
        }
      case "PageRank" =>
        val dst = conf.str("dst").getOrElse("dst_host")
        val src = conf.str("src").getOrElse("src_host")
        df => graft.ml.LinkGraph.pageRank(df, src, dst,
          conf.int("iterations", 5), conf.int("damping_pct", 85),
          conf.int("scale_digits", 12))
      case "LineFilter" =>
        // C4's line-level pass: mode drop rewrites text from the kept lines
        val dropMode = conf.str("mode").getOrElse("flag") match {
          case "drop" => true
          case "flag" => false
          case other => sys.error(s"LineFilter mode must be flag|drop, got '$other'")
        }
        df => graft.ml.TextAnalysis.c4LineFilter(df, text,
          conf.int("min_words_per_line", 5), conf.int("min_lines", 3), dropMode)
      case "PoolEmbeddings" =>
        // chunk→document vector pooling (ordered fold, reproducible)
        df => graft.ml.Similarity.poolEmbeddings(df,
          conf.str("src").getOrElse("embedding"),
          conf.str("group_field").getOrElse(sys.error(
            "PoolEmbeddings needs group_field")),
          conf.str("order_field").getOrElse(id),
          conf.str("mode").getOrElse("mean"))
      case "CompressionRatio" =>
        // deflate(text)/octet_length — repetitive/machine-generated pages
        // compress far below prose; `min` + mode drop cuts them
        val minR = conf.dbl("min", 0.0)
        val dropMode = conf.str("mode").getOrElse("flag") match {
          case "drop" => true
          case "flag" => false
          case other => sys.error(s"CompressionRatio mode must be flag|drop, got '$other'")
        }
        df => {
          val flagged = df.withColumn("compression_ratio",
            graft.functions.CompressFns.compressionRatio(col(s"`$text`")))
          if (dropMode) flagged.filter(col("compression_ratio") >= minR)
            .drop("compression_ratio")
          else flagged
        }
      case "BlockHosts" =>
        // domain-suffix blocklist drop: `domains: [a.com, …]` inline or
        // `blocklist: {input: Parquet, path: …}` (+`domain_field`) at scale
        val inline = conf.strSeq("domains")
        val spec = conf.anyMap("blocklist")
        if (inline.isEmpty && spec.isEmpty)
          sys.error("BlockHosts needs `domains: [...]` or a `blocklist:` input spec")
        val urlCol = conf.str("src").getOrElse("url")
        df => {
          val bl =
            if (inline.nonEmpty) {
              import df.sparkSession.implicits._
              inline.toDF("domain")
            } else input(df.sparkSession, spec.strReq("input"), spec)
              .withColumnRenamed(spec.str("domain_field").getOrElse("domain"), "domain")
          graft.ml.Blocklist.dropBlockedHosts(df, urlCol, bl)
        }
      case "BlockTerms" =>
        // blocked-term presence: `terms: [..]` inline or `blocklist:` spec
        val inline = conf.strSeq("terms")
        val spec = conf.anyMap("blocklist")
        if (inline.isEmpty && spec.isEmpty)
          sys.error("BlockTerms needs `terms: [...]` or a `blocklist:` input spec")
        val dropMode = conf.str("mode").getOrElse("flag") match {
          case "drop" => true
          case "flag" => false
          case other => sys.error(s"BlockTerms mode must be flag|drop, got '$other'")
        }
        df => {
          val tl =
            if (inline.nonEmpty) {
              import df.sparkSession.implicits._
              inline.toDF("term")
            } else input(df.sparkSession, spec.strReq("input"), spec)
              .withColumnRenamed(spec.str("term_field").getOrElse("term"), "term")
          graft.ml.Blocklist.flagBlockedTerms(df, text, id, tl,
            maxHits = conf.int("max_hits", 1), drop = dropMode)
        }
      case "QualityRules" =>
        // Gopher/C4 fixed-threshold pass; `mode: drop` keeps the original
        // schema and filters, `flag` (default) adds per-rule booleans
        val dropMode = conf.str("mode").getOrElse("flag") match {
          case "drop" => true
          case "flag" => false
          case other => sys.error(s"QualityRules mode must be flag|drop, got '$other'")
        }
        df => graft.ml.TextAnalysis.gopherRules(df, text,
          conf.int("min_words", 50), conf.int("max_words", 100000),
          conf.dbl("min_mean_word_len", 3.0), conf.dbl("max_mean_word_len", 10.0),
          conf.dbl("max_symbol_ratio", 0.1),
          conf.dbl("max_bullet_frac", 0.9), conf.dbl("max_ellipsis_frac", 0.3),
          conf.dbl("min_alpha_frac", 0.8), conf.int("min_stop_hits", 2),
          drop = dropMode)
      case "DupLines" =>
        // within-doc duplicate-line fractions (the Gopher repetition
        // rules beside QualityRules' fixed thresholds): `flag` (default)
        // appends n_lines/n_dup_lines/dup_line_frac/dup_char_frac;
        // `drop` filters on the published Gopher cuts (dup_line_frac
        // 0.30, dup_char_frac 0.20 — Rae et al. 2021 table A1) and
        // keeps the original schema. Zero-line docs carry NULL fracs
        // and are KEPT in drop mode (no evidence of repetition).
        val dropMode = conf.str("mode").getOrElse("flag") match {
          case "drop" => true
          case "flag" => false
          case other =>
            sys.error(s"DupLines mode must be flag|drop, got '$other'")
        }
        val maxLineFrac = conf.dbl("max_dup_line_frac", 0.30)
        val maxCharFrac = conf.dbl("max_dup_char_frac", 0.20)
        df => {
          val withLs = df.withColumn("__graft_dl_ls",
            graft.ml.TextAnalysis.sortedLines(col(text)))
          val cols = graft.ml.TextAnalysis.dupLineStatCols(col("__graft_dl_ls"))
          if (!dropMode)
            cols.foldLeft(withLs) { case (d, (n, c)) => d.withColumn(n, c) }
              .drop("__graft_dl_ls")
          else {
            val byName = cols.toMap
            withLs.filter(
              coalesce(byName("dup_line_frac") <= maxLineFrac, lit(true)) &&
                coalesce(byName("dup_char_frac") <= maxCharFrac, lit(true)))
              .drop("__graft_dl_ls")
          }
        }
      case "QualityBand" =>
        // global top-(1-p) quality cut; `exact: false` switches to the
        // constant-memory approx threshold for corpus-scale runs
        val p = conf.dbl("p", 0.7)
        val exact = conf.bool("exact", true)
        df => graft.ml.TextAnalysis.qualityBand(df, text, id, p, exact,
          conf.int("accuracy", 10000))
      case "Normalize" =>
        // unicode normalization of the text column IN PLACE (or to
        // `target`) — run it before any Dedup/Decontaminate stage so
        // decomposed variants of the same visible text hash identically
        val form = conf.str("form").getOrElse("NFC").toUpperCase
        val target = conf.str("target").getOrElse(text)
        df => df.withColumn(target,
          graft.functions.NormalizeFns.normalize(col(s"`$text`"), form))
      case "StripHtml" =>
        // crawl-page text extraction, in place or to `target` — run it
        // before Normalize/Dedup so markup variance doesn't defeat them
        val target = conf.str("target").getOrElse(text)
        df => df.withColumn(target,
          graft.ml.TextAnalysis.stripHtml(col(s"`$text`")))
      case "ColumnProfile" =>
        val cols = conf.strSeq("columns")
        if (cols.isEmpty) sys.error("ColumnProfile needs `columns: [a, b, …]`")
        df => graft.ml.DatasetOps.profileColumns(df, cols)
      // media stages operate on the (media_id, media_type, content)
      // frame shape ([[graft.ml.Multimodal]]); `src`/`id_field` don't
      // apply — the payload column is `content` by contract
      case "MediaDecode" =>
        conf.str("method").getOrElse("headers") match {
          case "headers" => df => graft.ml.Multimodal.decodePartitions(
            df, graft.ml.Multimodal.HeaderDecoder)
          case "pixels" => df => graft.ml.Multimodal.decodeImagePixels(df)
          case "pcm" => df => graft.ml.Multimodal.decodeWavPcm(df)
          case other => sys.error(
            s"MediaDecode method must be headers|pixels|pcm, got '$other'")
        }
      case "MediaResize" =>
        val w = conf.int("width", 0)
        val h = conf.int("height", 0)
        if (w <= 0 || h <= 0) sys.error("MediaResize needs positive `width` and `height`")
        df => graft.ml.Multimodal.resizeImages(df, w, h)
      case "MediaResample" =>
        val rate = conf.int("rate", 0)
        if (rate <= 0) sys.error("MediaResample needs a positive `rate`")
        df => graft.ml.Multimodal.resamplePcm(df, rate)
      case "MediaFrames" =>
        val n = conf.int("n", 0)
        if (n <= 0) sys.error("MediaFrames needs a positive `n`")
        df => graft.ml.Multimodal.sampleFrames(df, n)
      case "PassageDedup" =>
        // verbatim-passage rewrite (suffix-array-dedup family): strip
        // k-token windows duplicated across ≥ min_docs docs, keep-first.
        // mode: spans emits the (doc_id, span) table instead of rewriting.
        conf.str("mode").getOrElse("strip") match {
          case "strip" =>
            df => graft.ml.Dedup.stripDuplicatedPassages(df, text, id,
              conf.int("k", 8), conf.int("min_docs", 2))
          case "spans" =>
            df => graft.ml.Dedup.duplicatedPassages(df, text, id,
              conf.int("k", 8), conf.int("min_docs", 2))
          case other => sys.error(
            s"PassageDedup mode must be strip|spans, got '$other'")
        }
      case "LineDedup" =>
        // CCNet-family boilerplate-line removal: cut any line appearing in
        // ≥ min_docs distinct docs; rewrite pass, cardinality preserved
        df => graft.ml.Dedup.removeBoilerplateLines(df, text, id,
          conf.int("min_docs", 3), conf.str("delim").getOrElse("\n"))
      case "SemanticDedup" =>
        // embedding-space dedup: `src` names the vector column here.
        // `kmeans: true` trains Lloyd centroids on the corpus first (the
        // SemDeDup paper path — tighter cells than the seeded default,
        // which just takes the first num_cells vectors)
        val vec = conf.str("src").getOrElse("embedding")
        val cells = conf.int("num_cells", 16)
        // `store: <path>` switches to CROSS-RUN mode: drop rows near any
        // previously banked vector, then bank this run's survivors —
        // the embedding twin of Dedup method=incremental
        conf.str("store") match {
          case Some(store) =>
            df => {
              val kept = graft.ml.Similarity.dropSeenSemantic(df, store,
                vec, id, dim = conf.int("dim", 64),
                numPlanes = conf.int("num_planes", 6),
                threshold = conf.dbl("threshold", 0.95),
                probes = conf.int("probes", 0))
              // bank AFTER the sinks commit (PostCommit), for the same
              // retry-poisoning reason as the text stores
              graft.core.PostCommit.register(
                () => { graft.ml.Similarity.appendToVecStore(
                  kept, vec, store): Unit })
              kept
            }
          case None =>
            df => graft.ml.Similarity.semanticDedup(df, vec, id, cells,
              conf.dbl("threshold", 0.95),
              centroids = trainedCentroids(conf, df, vec, id, cells),
              maxCellSize = conf.long("max_cell_size", 0L),
              dim = conf.int("dim", 64))
        }
      case "SemanticSearch" =>
        // ANN top-k of a query panel against the corpus's embedding
        // column: (query_id, vec_id, rank, sim). The DEFAULT arm is IVF
        // (num_cells 16, nprobe 2) — measured on the q_ann_recall gate
        // fixture at 24/25 recall probing 2/16 cells, where SRP-LSH
        // reaches only 19/25 even at planes=4/probes=4 (probing ~31% of
        // the corpus); see MIGRATION.md's recall/cost table. `lsh` stays
        // available for streams of ephemeral queries where the one-time
        // IVF index build doesn't amortize, `brute` as the exact
        // baseline.
        val vec = conf.str("src").getOrElse("embedding")
        val k = conf.int("k", 10)
        df => {
          val queries = conf.anyMap("queries") match {
            case m if m.nonEmpty => input(df.sparkSession, m.strReq("input"), m)
            case _ => conf.str("query_where") match {
              case Some(cond) => df.filter(graft.conditions.ConditionFilter
                .compile(cond, df,
                  conf.str("timestamp").getOrElse("@timestamp")))
              case None => sys.error("SemanticSearch needs `queries` " +
                "(an input spec) or `query_where` (condition DSL over the corpus)")
            }
          }
          conf.str("method").getOrElse("ivf") match {
            // `index_path`: probe a SAVED (possibly appended-to) index
            // instead of building one per run — the daily-corpus path
            case "ivf" if conf.str("index_path").isDefined =>
              graft.ml.Similarity.ivfSearch(
                graft.ml.IvfIndex.load(df.sparkSession, conf.strReq("index_path")),
                queries, vec, id, k, conf.int("nprobe", 2))
            case "ivf" => graft.ml.Similarity.ivfTopK(df, queries, vec, id,
              k, conf.int("num_cells", 16), conf.int("nprobe", 2))
            case "lsh" => graft.ml.Similarity.annTopK(df, queries, vec, id,
              k, conf.int("num_planes", 8), conf.int("dim", 64),
              conf.int("probes", 0))
            case "brute" => graft.ml.Similarity.bruteForceTopK(
              df, queries, vec, id, k)
            case other => sys.error(s"SemanticSearch: unknown method " +
              s"'$other' (ivf | lsh | brute)")
          }
        }
      case "IvfAppend" =>
        // append this corpus's embeddings to a saved IVF index AFTER the
        // run's sinks commit (PostCommit — the seen-store mutation
        // contract; the append itself is idempotent via its anti-join, so
        // a crashed run's retry adds 0). When per-cell drift exceeds
        // `max_drift` (the documented rebuild trigger): `rebuild: warn`
        // (default) warns on stderr; `rebuild: auto` retrains in place
        // via rebuildIvfIndex — also PostCommit, under the store
        // tmp+rename crash contract, so a failed sink can't poison the
        // index and a crashed rebuild finishes on the next run.
        val vec = conf.str("src").getOrElse("embedding")
        val path = conf.strReq("index_path")
        val maxDrift = conf.dbl("max_drift", 0.5)
        val rebuild = conf.str("rebuild").getOrElse("warn")
        if (rebuild != "warn" && rebuild != "auto")
          sys.error(s"IvfAppend: unknown rebuild mode '$rebuild' (warn | auto)")
        df => {
          graft.core.PostCommit.register { () =>
            graft.ml.Similarity.appendToIvfIndex(
              df.sparkSession, path, df, vec, id)
            if (graft.ml.Similarity.ivfNeedsRebuild(df.sparkSession, path,
                maxDrift)) {
              if (rebuild == "auto") {
                System.err.println(s"[graft] IVF index $path exceeded " +
                  s"max_drift=$maxDrift — auto-rebuilding (rebuild: auto)")
                graft.ml.Similarity.rebuildIvfIndex(df.sparkSession, path): Unit
              } else
                System.err.println(s"[graft] IVF index $path exceeded " +
                  s"max_drift=$maxDrift — rebuild recommended " +
                  "(rebuild: auto, or buildIvfIndex + save)")
            }
          }
          df
        }
      case "Vocabulary" =>
        // corpus frequency table: top-N tokens ≥ min_count, with rank —
        // the tokenizer-training / stopword-audit precursor. With
        // `store:` the emitted vocabulary covers store + THIS increment,
        // and the increment's counts append via the PostCommit hook
        // (after the run's sinks succeed) — a vocab append is NOT
        // idempotent (counts merge), so an eager append would
        // double-count a failed run's retry
        val minCount = conf.long("min_count", 1L)
        val topN = conf.int("top_n", 10000)
        val uni = conf.bool("unicode", false)
        conf.str("store") match {
          case Some(store) =>
            val compactAt = conf.int("compact_files", 0)
            df => {
              graft.core.PostCommit.register { () =>
                graft.ml.TextAnalysis.appendToVocabStore(df, text, store, uni): Unit
                compactAbove(df.sparkSession, store, compactAt)(
                  graft.ml.TextAnalysis.compactVocabStore(df.sparkSession, store, _))
              }
              graft.ml.TextAnalysis.vocabularyFromStore(df.sparkSession,
                store, minCount, topN, Some(df), text, uni)
            }
          case None =>
            df => graft.ml.TextAnalysis.vocabulary(df, text, minCount, topN, uni)
        }
      case "Novelty" =>
        // per-doc n-gram novelty vs a reference corpus (the scoring
        // complement of Decontaminate); `reference` is an input spec
        val rm = conf.anyMap("reference")
        if (rm.isEmpty) sys.error("Novelty needs a `reference` input spec, " +
          "e.g. reference: {input: Parquet, path: /data/seen.parquet}")
        val n = conf.int("ngram", 5)
        df => {
          val ref = input(df.sparkSession, rm.strReq("input"), rm)
          graft.ml.TextAnalysis.ngramNovelty(df, ref, text, id,
            rm.str("src").getOrElse(text), n, conf.bool("unicode", false))
        }
      case "PerplexityScore" =>
        // stupid-backoff n-gram LM scoring (the CCNet-style quality arm):
        // emits the per-doc score frame (id, n_tokens, matched_full,
        // backoff, oov, sum_prob, log_prob, perplexity). Model comes from
        // `model_path` (a parquet written from NgramLm.train's frame) or
        // is trained on a `reference` input spec, like Novelty.
        val order = conf.int("order", 3)
        val alpha = conf.dbl("alpha", 0.4)
        val uni = conf.bool("unicode", false)
        df => {
          val model = conf.str("model_path") match {
            case Some(p) => df.sparkSession.read.parquet(p)
            case None =>
              val rm = conf.anyMap("reference")
              if (rm.isEmpty) sys.error("PerplexityScore needs `model_path` " +
                "or a `reference` input spec, e.g. reference: {input: " +
                "Parquet, path: /data/wiki.parquet}")
              graft.ml.NgramLm.train(
                input(df.sparkSession, rm.strReq("input"), rm),
                rm.str("src").getOrElse(text), order,
                conf.long("min_count", 2L), uni)
          }
          graft.ml.NgramLm.score(df, model, text, id, order, alpha, uni)
        }
      case "Dsir" =>
        // DSIR importance resampling toward a target domain (Xie et al.
        // 2023): hashed-ngram counts from a `target` input spec (or a
        // saved Dsir.ngramCounts parquet via `target_counts_path`) vs the
        // pool itself (or `raw_counts_path`), then `method: topk` (the
        // paper's Gumbel top-k, batch) or `method: threshold` (the
        // exact-arithmetic hash acceptance — zero-exchange, so
        // stream-capable when BOTH count frames come from saved paths).
        val logB = conf.int("log_buckets", 12)
        val bg = conf.bool("bigrams", true)
        val keepEvidence = conf.bool("keep_evidence", false)
        df => {
          val s = df.sparkSession
          // `target_where`: the target sample is a PREDICATE over the
          // pool (condition DSL) — the fused single-pass form
          // (Dsir.ngramCountsWithTarget): one explode+agg over the
          // corpus instead of two. At 100 TB the counting pass IS the
          // model-build cost, so this halves it whenever the target is
          // "a slice of the pool" (curated ids, a domain flag).
          val fused = conf.str("target_where").map { cond =>
            if (conf.str("target_counts_path").nonEmpty ||
                conf.anyMap("target").nonEmpty)
              sys.error("Dsir: `target_where` is mutually exclusive with " +
                "`target` / `target_counts_path`")
            if (conf.str("raw_counts_path").nonEmpty ||
                conf.str("raw_counts_store").nonEmpty)
              sys.error("Dsir: `target_where` counts target and raw in " +
                "one pass over the pool — it cannot combine with " +
                "`raw_counts_path` / `raw_counts_store`")
            if (df.isStreaming) sys.error("Dsir on a stream needs BOTH " +
              "count paths — `target_where` would aggregate inside the " +
              "stream")
            graft.ml.Dsir.ngramCountsWithTarget(df, text,
              graft.conditions.ConditionFilter.compile(cond, df,
                conf.str("timestamp").getOrElse("@timestamp")), logB, bg)
          }
          val tgtCounts = fused.map(_._1).getOrElse(
            conf.str("target_counts_path") match {
            case Some(p) => s.read.parquet(p)
            case None =>
              val tm = conf.anyMap("target")
              if (tm.isEmpty) sys.error("Dsir needs `target_counts_path`, " +
                "a `target` input spec (e.g. target: {input: Parquet, " +
                "path: /data/target_sample.parquet}), or `target_where` " +
                "(condition DSL over the pool)")
              if (df.isStreaming) sys.error("Dsir on a stream needs BOTH " +
                "`target_counts_path` and `raw_counts_path` (pre-built " +
                "with Dsir.ngramCounts) — counting inside a stream would " +
                "need its own aggregation state")
              graft.ml.Dsir.ngramCounts(
                input(s, tm.strReq("input"), tm)
                  .transform(d => tm.str("src").filter(_ != text)
                    .map(d.withColumnRenamed(_, text)).getOrElse(d)),
                text, logB, bg)
          })
          val rawCounts = fused.map(_._2).getOrElse(
            (conf.str("raw_counts_path"),
              conf.str("raw_counts_store")) match {
            case (Some(_), Some(_)) => sys.error("Dsir: `raw_counts_path` " +
              "and `raw_counts_store` are mutually exclusive")
            case (Some(p), None) => s.read.parquet(p)
            case (None, Some(store)) =>
              // incremental raw pool: the cumulative store PLUS today's
              // increment is the distribution today's docs are scored
              // against; the increment's counts append to the store only
              // after the sinks commit (counts merge — NOT idempotent, so
              // an eager append would double-count a failed run's retry)
              if (df.isStreaming) sys.error("Dsir on a stream needs " +
                "`raw_counts_path` — a counts store cannot aggregate " +
                "inside the stream")
              graft.core.PostCommit.register { () =>
                graft.ml.Dsir.appendToCountsStore(df, text, store, logB, bg): Unit
              }
              graft.ml.Dsir.countsFromStore(s, store)
                .unionByName(graft.ml.Dsir.ngramCounts(df, text, logB, bg))
                .groupBy("bucket").agg(sum(col("cnt")).as("cnt"))
            case (None, None) =>
              if (df.isStreaming) sys.error("Dsir on a stream needs " +
                "`raw_counts_path` — the pool's counts cannot be " +
                "aggregated inside the stream")
              graft.ml.Dsir.ngramCounts(df, text, logB, bg)
          })
          val m = graft.ml.Dsir.model(tgtCounts, rawCounts, logB, bg)
          val weighed = graft.ml.Dsir.weigh(df, text, id, m)
          val out = conf.str("method").getOrElse("topk") match {
            case "topk" =>
              if (df.isStreaming) sys.error("Dsir method: topk is " +
                "batch-only (global top-k) — use method: threshold on " +
                "streams")
              val k = conf.int("k", -1)
              if (k <= 0) sys.error("Dsir method: topk needs `k` (> 0)")
              graft.ml.Dsir.resampleTopK(weighed, id, k, conf.int("seed", 0))
            case "threshold" =>
              weighed.filter(graft.ml.Dsir.thresholdKeep(weighed, id,
                conf.dbl("cap", 2.0), conf.int("seed", 5)))
            case other => sys.error(s"Dsir: unknown method '$other' " +
              "(topk | threshold)")
          }
          if (keepEvidence) out
          else out.drop("n_feats", "sum_ratio", "log_weight")
        }
      case "QualityClassifier" =>
        // trained quality ranking (hashed-bag logistic regression — the
        // fastText-style complement to QualityRules): model from
        // `model_path` (QualityClassifier.save layout) or trained at
        // plan time on a labeled `reference` input spec (`label_field`,
        // 0/1). Scoring is a zero-exchange narrow map (weights embedded
        // in the plan — stream-native for the same reason as LangId);
        // `keep_above` filters on the logit in-row.
        val target = conf.str("target").getOrElse("quality_logit")
        // contradictory config fails at PLAN time (the loud-error
        // convention): a model_path user who also sets a store path
        // would otherwise silently never append their reference
        // increments — a stale store with no symptom
        if (conf.str("model_path").nonEmpty &&
            conf.str("feature_store_path").nonEmpty)
          sys.error("QualityClassifier: model_path and feature_store_path " +
            "are mutually exclusive — load a frozen model OR maintain an " +
            "incremental training store, not both")
        df => {
          val model = (conf.str("model_path"),
              conf.str("feature_store_path")) match {
            case (Some(p), _) =>
              graft.ml.QualityClassifier.load(df.sparkSession, p)
            case (None, Some(sp)) =>
              // incremental-training idiom (the Dsir counts-store
              // pattern): an optional labeled `reference` increment is
              // featurized ONCE into the store (idempotent by id_field),
              // then training aggregates the store's compact
              // pre-featurized rows — bit-identical to full-batch,
              // spec-pinned
              val rm = conf.anyMap("reference")
              if (rm.nonEmpty)
                graft.ml.QualityClassifier.appendToFeatureStore(
                  input(df.sparkSession, rm.strReq("input"), rm),
                  rm.str("src").getOrElse(text),
                  rm.str("label_field").getOrElse("label"),
                  rm.str("id_field").getOrElse(id), sp,
                  conf.int("log_buckets", 12),
                  conf.bool("bigrams", true)): Unit
              val m = graft.ml.QualityClassifier.trainFromFeatureStore(
                df.sparkSession, sp, conf.int("epochs", 20),
                conf.dbl("lr", 0.5), conf.dbl("l2", 0.0))
              // with no reference to append, an EXPLICIT hash config
              // that contradicts the store's pinned meta must fail, not
              // be silently overridden by the store
              conf.str("log_buckets").foreach(lb => require(
                lb.trim.toInt == m.logBuckets,
                s"QualityClassifier: log_buckets $lb contradicts the " +
                  s"feature store's pinned ${m.logBuckets} at $sp"))
              conf.str("bigrams").foreach(bg => require(
                bg.trim.toBoolean == m.bigrams,
                s"QualityClassifier: bigrams $bg contradicts the feature " +
                  s"store's pinned ${m.bigrams} at $sp"))
              m
            case (None, None) =>
              val rm = conf.anyMap("reference")
              if (rm.isEmpty) sys.error("QualityClassifier needs " +
                "`model_path`, a `feature_store_path`, or a labeled " +
                "`reference` input spec, e.g. reference: {input: Parquet, " +
                "path: /data/labeled.parquet, label_field: label}")
              graft.ml.QualityClassifier.train(
                input(df.sparkSession, rm.strReq("input"), rm),
                rm.str("src").getOrElse(text),
                rm.str("label_field").getOrElse("label"),
                conf.int("log_buckets", 12), conf.bool("bigrams", true),
                conf.int("epochs", 20), conf.dbl("lr", 0.5),
                conf.dbl("l2", 0.0))
          }
          val scored = graft.ml.QualityClassifier.score(df, text, model, target)
          conf.str("keep_above") match {
            case Some(t) => scored.filter(col(s"`$target`") > t.toDouble)
            case None => scored
          }
        }
      case "LangId" =>
        // Cavnar–Trenkle trigram language ID: profiles come from
        // `profiles_path` (a parquet of trainProfiles' frame) or are
        // trained on a labeled `reference` input spec (`lang_field`)
        val topK = conf.int("top_k", 100)
        df => {
          val profiles = conf.str("profiles_path") match {
            case Some(p) => df.sparkSession.read.parquet(p)
            case None =>
              val rm = conf.anyMap("reference")
              if (rm.isEmpty) sys.error("LangId needs `profiles_path` or a " +
                "labeled `reference` input spec, e.g. reference: {input: " +
                "Parquet, path: /data/labeled.parquet, lang_field: lang}")
              graft.ml.LangId.trainProfiles(
                input(df.sparkSession, rm.strReq("input"), rm),
                rm.str("src").getOrElse(text),
                rm.str("lang_field").getOrElse("lang"), topK)
          }
          conf.strSeq("keep_langs") match {
            // language filter: annotate in-row and keep only the listed
            // verdicts — zero exchanges end to end, payload intact
            case keep if keep.nonEmpty =>
              graft.ml.LangId.annotate(df, text, profiles, topK)
                .filter(col("lang_guess").isin(keep: _*))
                .drop("lang_guess", "lang_distance")
            case _ => conf.str("emit").getOrElse("classify") match {
              case "annotate" =>
                graft.ml.LangId.annotate(df, text, profiles, topK)
              case "classify" =>
                graft.ml.LangId.classify(df, text, id, profiles, topK)
              case other => sys.error(
                s"LangId: unknown emit '$other' (classify | annotate)")
            }
          }
        }
      case "BudgetMix" =>
        // token-budget mixture: size per-source rates against real token
        // mass, then sample — `emit: plan` returns the per-source audit
        // frame instead of the sampled rows. Weights come from explicit
        // `weights:` (planMixture) or, with `temperature_alpha`, from the
        // data itself (w = p^alpha, the mC4/XLM-R temperature method);
        // the two are mutually exclusive.
        val group = conf.str("group_field").getOrElse(sys.error(
          "BudgetMix needs `group_field` (the source column)"))
        val weights = conf.anyMap("weights")
          .map { case (k, v) => k -> v.toString.toDouble }
        val dflt = conf.dbl("default_weight", 1.0)
        val tempAlpha = conf.str("temperature_alpha").map(_.toDouble)
        if (tempAlpha.nonEmpty && weights.nonEmpty)
          sys.error("BudgetMix: `weights` and `temperature_alpha` are " +
            "mutually exclusive — explicit budgets or data-derived " +
            "temperature weights, not both")
        val budget = conf.long("budget", 0L) match {
          case b if b > 0 => b
          case _ => sys.error("BudgetMix needs a positive `budget` (tokens)")
        }
        val keyField = conf.str("key_field").getOrElse(id)
        val seed = conf.int("seed", 0)
        df => {
          val plan = tempAlpha match {
            case Some(a) => graft.ml.DatasetOps.temperatureMixture(
              df, group, text, budget, a)
            case None => graft.ml.DatasetOps.planMixture(df, group, text,
              weights, dflt, budget)
          }
          conf.str("emit").getOrElse("apply") match {
            case "plan" => plan
            case "apply" => graft.ml.DatasetOps.applyMixture(df, plan, group,
              graft.ml.DatasetOps.hash01(col(s"`$keyField`"), seed))
            case other => sys.error(s"BudgetMix: unknown emit '$other' (plan | apply)")
          }
        }
      case "CorpusDiff" =>
        // snapshot diff vs a previous corpus version: `old` is an input
        // spec; emits (id, status ∈ added|removed|changed) — the
        // pre-commit audit of a recurring crawl/refresh
        val om = conf.anyMap("old")
        if (om.isEmpty) sys.error("CorpusDiff needs an `old` input spec, " +
          "e.g. old: {input: Parquet, path: /data/corpus_v1.parquet}")
        val unchanged = conf.bool("include_unchanged", false)
        df => {
          val old = input(df.sparkSession, om.strReq("input"), om)
          graft.ml.DatasetOps.corpusDiff(old, df, id, text, unchanged)
        }
      case "InvertedIndex" =>
        // token → bounded posting rows with document frequency
        df => graft.ml.TextAnalysis.invertedIndex(df, text, id,
          conf.long("min_df", 1L), conf.int("max_postings", 1000),
          conf.bool("unicode", false))
      case "KnnJoin" =>
        // every row's k nearest neighbors by embedding cosine; `ivf`
        // (default) is the celled scale arm, `brute` the exact baseline
        val vec = conf.str("src").getOrElse("embedding")
        val k = conf.int("k", 10)
        df => conf.str("method").getOrElse("ivf") match {
          case "ivf" =>
            // `kmeans: true` lifts np8 recall 0.74 → 0.84 on the
            // near-uniform fixture; shared option contract
            val cells = conf.int("num_cells", 16)
            graft.ml.Similarity.knnJoin(df, vec, id, k,
              cells, conf.int("nprobe", 2),
              trainedCentroids(conf, df, vec, id, cells))
          case "brute" => graft.ml.Similarity.knnJoinBrute(df, vec, id, k)
          case other => sys.error(s"KnnJoin: unknown method '$other' (ivf | brute)")
        }
      case "ZOrderExport" =>
        // tee-style multi-column clustered export (see RangeSortedExport
        // for the single-key form): `by` lists the clustered columns
        val by = conf.strSeq("by")
        if (by.isEmpty) sys.error("ZOrderExport needs `by` (the clustered " +
          "columns), e.g. by: [source, doc_id]")
        val path = conf.strReq("path")
        val files = conf.int("files", 0) match {
          case v if v > 0 => v
          case _ => sys.error("ZOrderExport needs a positive `files`")
        }
        val bits = conf.int("bits", 8)
        val maxRec = conf.long("max_records_per_file", 0L)
        df => {
          graft.ml.DatasetOps.writeZOrdered(df, by, path, files, bits, maxRec)
          df
        }
      case "RangeSortedExport" =>
        // tee-style sorted export: write the corpus range-partitioned +
        // internally sorted by `key_field` (file-level min/max pruning
        // downstream), pass the frame through unchanged. The write runs
        // when the stage executes — a terminal Export before the sink.
        val key = conf.str("key_field").getOrElse(id)
        val path = conf.strReq("path")
        val files = conf.int("files", 0) match {
          case v if v > 0 => v
          case _ => sys.error("RangeSortedExport needs a positive `files`")
        }
        val maxRec = conf.long("max_records_per_file", 0L)
        df => {
          graft.ml.DatasetOps.writeRangeSorted(df, key, path, files, maxRec)
          df
        }
      case other => sys.error(s"unknown corpus stage '$other'")
    }
  }

  /** The `compact_files: N` trigger of a store-backed stage, run after its
    * post-commit append: once the store holds more than N data files,
    * `compact(target)` rewrites it to target = max(1, N/2) files. Landing
    * BELOW the trigger is the point: a rewrite to N or more files (the
    * compact* API default is 32) would fire again on every increment,
    * rewriting the whole store and leaving every later read that many
    * files to open. 0 disables. */
  private def compactAbove(spark: SparkSession, store: String, n: Int)(
      compact: Int => Long): Unit =
    if (n > 0 && graft.ml.Dedup.storeDataFiles(spark, store).size > n)
      compact(math.max(1, n / 2)): Unit

  /** Metric emission path (reference: filter/link_metric.go:248-274 —
    * synthetic metric events re-enter the pipeline; `drop_original_event:
    * false` keeps the originals flowing alongside). Batch: UNION ALL of
    * originals and metric events (missing columns null-padded). Streaming
    * with re-entry runs through `runStreaming`'s stage split: the metric
    * stage lands INSIDE foreachBatch where each micro-batch is a plain
    * DataFrame and the same UNION ALL applies (SURVEY §3.3 fan-out). A
    * direct `transform` of a streaming frame still cannot express it and
    * fails fast rather than silently dropping the originals. */
  private def metricStage(df: DataFrame, cfg: LinkMetric.Config,
      batchForm: DataFrame => DataFrame,
      streamForm: DataFrame => DataFrame): DataFrame =
    if (df.isStreaming) {
      if (!cfg.dropOriginalEvent) throw new IllegalArgumentException(
        "LinkMetric: drop_original_event: false cannot run inside a single " +
          "streaming query (the aggregated stream cannot union the raw " +
          "events). Planner.runStreaming handles this automatically by " +
          "running the metric stage per micro-batch inside foreachBatch; " +
          "use it (or startForeachBatch with streamingSplit) instead of " +
          "transform() on the streaming frame.")
      streamForm(df)
    }
    else if (cfg.dropOriginalEvent) batchForm(df)
    else df.unionByName(batchForm(df), allowMissingColumns = true)

  /** Split a stage list for streaming execution: everything before the
    * first per-batch-only stage runs in the streaming query proper; that
    * stage and everything after it run per micro-batch inside
    * foreachBatch. Two stage classes force the split:
    *
    *  - a re-entrant metric stage (`drop_original_event: false`), where
    *    the batch UNION ALL re-entry is expressible and downstream
    *    filters see originals AND metric events exactly like the
    *    reference's mid-pipeline re-injection
    *    (filter/link_metric.go:248-274, topology/filter.go:35-37);
    *  - an EAGER corpus stage (Dedup, PackSequences, Shuffle, …): they
    *    change cardinality or order via eager counts/windows/joins an
    *    unbounded stream cannot express — inside foreachBatch each
    *    micro-batch IS the corpus. Incremental Dedup composes with this
    *    into continuous cross-batch dedup: the seen store advances via
    *    the PostCommit hook the foreachBatch writer already drains after
    *    each batch's sinks commit. Pure row-wise corpus stages (Mix,
    *    AssignSplits, TextProfile — codegen filters/projections) stay on
    *    the stream side: forcing THEM per-batch would also demote any
    *    downstream watermarked metric stage to per-batch aggregation,
    *    fragmenting its windows across triggers.
    *
    * The micro-batch boundary doubles as the emission cadence, the same
    * trigger-interval role it already plays for the bulk sinks. */
  def streamingSplit(stages: Seq[(String, Map[String, Any])])
      : (Seq[(String, Map[String, Any])], Seq[(String, Map[String, Any])]) = {
    val idx = stages.indexWhere { case (n, c) =>
      (CorpusStages.contains(n) && !streamableCorpusStage(n, c)) ||
        ((n == "LinkMetric" || n == "LinkStatsMetric") &&
          !c.bool("drop_original_event", true)) ||
        // as-of enrichment runs per-micro-batch (window over left ∪
        // right — correct per batch against a full right side / temporal
        // store); Sessionize streams natively in BOTH forms, so it stays.
        // SaltedJoin: same structure (right side re-loads per plan,
        // row-wise correct per batch) — without this split a streaming
        // YAML hits its batch-only guard with advice ("run it inside
        // foreachBatch") that a config user has no seam to follow
        n == "AsOfJoin" || n == "SaltedJoin"
    }
    if (idx < 0) (stages, Nil) else stages.splitAt(idx)
  }

  /** The shared `kmeans:`/`kmeans_iters:` option contract of
    * SemanticDedup and KnnJoin: optionally train Lloyd centroids before
    * the celled pass — ONE definition so the two stages cannot drift. */
  private def trainedCentroids(conf: Map[String, Any], df: DataFrame,
      vec: String, id: String, cells: Int): Option[DataFrame] =
    if (conf.bool("kmeans", false))
      Some(graft.ml.Similarity.trainKmeansCentroids(df, vec, id, cells,
        conf.int("kmeans_iters", 5)))
    else None

  /** The corpus stages that are pure row-wise filters/projections — no
    * eager action, no window, no join — and therefore run unchanged on a
    * streaming frame. Everything in [[CorpusStages]] but not here is
    * forced into the foreachBatch tail by [[streamingSplit]]. */
  private val StreamableCorpusStages = Set("Mix", "AssignSplits", "TextProfile",
    "StripHtml", "Normalize", "QualityRules", "LineFilter", "Outlinks",
    "CompressionRatio", "EncodingArtifacts", "DupLines", "ScriptProfile")

  /** Config-dependent streamability on top of the static whitelist (r14
    * verdict task 7 — streaming curation parity): the composed curation
    * prefix (rules → classifier logit → DSIR hash-threshold keep) is a
    * narrow map end to end, so curation-on-ingest must score ON the
    * stream, not buffer into the foreachBatch tail.
    *  - QualityClassifier: the model resolves at PLAN time on batch
    *    frames (model_path load / feature-store train / reference
    *    train), then scoring is the zero-exchange embedded-weights map —
    *    stream-native in any config.
    *  - Dsir: streamable ONLY when both count frames come from saved
    *    paths (counting aggregates) and the method is the hash-threshold
    *    acceptance (topk is a global sort). Other configs stay in the
    *    tail, where the stage's own loud streaming guards apply. */
  private def streamableCorpusStage(n: String, c: Map[String, Any]): Boolean =
    StreamableCorpusStages.contains(n) ||
      n == "QualityClassifier" ||
      (n == "Dsir" && c.str("target_counts_path").nonEmpty &&
        c.str("raw_counts_path").nonEmpty &&
        c.str("method").contains("threshold"))

  // ---- inputs -------------------------------------------------------------

  /** Batch inputs. Codec semantics follow the reference: plain wraps the
    * raw line as `message` + `@timestamp` (codec/plain_decoder.go:8-13);
    * json parses columns (codec/json_decoder.go). */
  def input(spark: SparkSession, name: String, conf: Map[String, Any]): DataFrame =
    name match {
      case "Parquet" => spark.read.parquet(conf.strReq("path"))
      case "Csv" =>
        spark.read.option("header", conf.bool("header", true).toString)
          .option("inferSchema", conf.bool("infer_schema", false).toString)
          .csv(conf.strReq("path"))
      case "Json" => spark.read.json(conf.strReq("path"))
      case "Text" =>
        val raw = spark.read.text(conf.strReq("path"))
        conf.str("codec").getOrElse("plain") match {
          case "json" => spark.read.json(raw.select("value")
            .as(org.apache.spark.sql.Encoders.STRING))
          case _ => raw.select(col("value").as("message"),
            current_timestamp().as("@timestamp"))
        }
      case "Random" =>
        val from = conf.long("from", 0)
        val to = conf.long("to", 100)
        val n = conf.long("max_messages", 1000)
        spark.range(n).select(
          (rand() * (to - from) + from).cast("long").as("message"),
          current_timestamp().as("@timestamp"))
      case "Warc" =>
        // web-crawl archives (.warc / .warc.gz), one task per file —
        // the CommonCrawl ingestion head of the curation family
        graft.sources.WarcReader.read(spark, conf.strReq("path"),
          conf.int("max_record_bytes", 16 << 20),
          conf.bool("parse_http", true))
      case "Custom" =>
        // user source class (reference plugin surface: input/input.go:40-59)
        Plugins.forConf(conf) match {
          case p: Plugins.InputPlugin => p.read(spark)
          case other => sys.error(s"custom input ${other.getClass.getName} " +
            "must implement graft.pipeline.Plugins.InputPlugin")
        }
      case other => sys.error(s"unknown batch input '$other'")
    }

  /** Kafka reader options from a YAML input conf (reference:
    * input/kafka_input.go:54-104). Factored from the reader so the
    * subscribe/assign/group/backpressure mapping is spec-testable without
    * a broker: group-consume (`topic`) vs static partition `assign`;
    * `max_offsets_per_trigger` is the micro-batch analogue of the
    * reference's bounded in-flight channel (messages_queue_length). */
  def kafkaOptions(conf: Map[String, Any]): Map[String, String] = {
    val raw = conf.anyMap("consumer_settings")
    val settings = raw.collect { case (k, v)
      if !v.isInstanceOf[Map[_, _]] && !v.isInstanceOf[Seq[_]] =>
        k -> String.valueOf(v)
    }
    val base = Map("kafka.bootstrap.servers" -> settings.getOrElse(
      "bootstrap.servers",
      sys.error("Kafka input needs consumer_settings.bootstrap.servers")))
    // `assign` in a reference config is a YAML map (topic → partitions);
    // render it to the JSON the Kafka source expects. A pre-rendered JSON
    // string passes through.
    val sub = conf.get("assign") match {
      case Some(m: Map[_, _]) =>
        val body = m.map { case (t, ps) =>
          val parts = ps match {
            case s: Seq[_] => s.map(_.toString).mkString(",")
            case one => one.toString
          }
          s""""$t":[$parts]"""
        }.mkString(",")
        Map("assign" -> s"{$body}")
      case Some(s: String) => Map("assign" -> s)
      case Some(other) => sys.error(s"Kafka assign must be a map or JSON string: $other")
      case None => Map("subscribe" -> conf.anyMap("topic").keys.mkString(","))
    }
    // Reference-semantic and Spark-reserved keys CANNOT forward
    // kafka.-prefixed: Spark's Kafka source throws at plan time on its
    // reserved consumer options, and healer-internal keys mean nothing
    // to the Kafka client. Each is either TRANSLATED to its Spark
    // equivalent or dropped with a stderr warning — a migrated reference
    // config must keep running, never fail on (or silently carry) an
    // option Spark owns.
    //  - from.beginning / auto.offset.reset → startingOffsets
    //  - enable.auto.commit, auto.commit.interval.ms, offsets.storage:
    //    Spark tracks offsets in the CHECKPOINT, not the group — commit
    //    tuning is meaningless (gohangout commits to the group; see the
    //    checkpoint_location note in runStreaming)
    //  - key/value.deserializer, interceptor.classes: Spark pins its own
    //    ByteArrayDeserializer and rejects overrides at plan time
    //  - messages_queue_length: healer's internal channel length; the
    //    micro-batch analogue is max_offsets_per_trigger (top-level)
    val dropped = Set("enable.auto.commit", "auto.commit.interval.ms",
      "offsets.storage", "key.deserializer", "value.deserializer",
      "interceptor.classes", "messages_queue_length")
    settings.keySet.intersect(dropped).foreach { k =>
      System.err.println(s"[graft] Kafka consumer_settings.$k has no " +
        "Spark equivalent (offsets/deserialization are checkpoint- and " +
        "engine-managed) — dropped")
    }
    val translated = Set("bootstrap.servers", "group.id", "from.beginning",
      "auto.offset.reset", "tls.enabled") ++ dropped
    val passthrough = (settings -- translated)
      // flat sasl.*/tls.* keys are security config, translated below —
      // kafka.sasl.user is NOT a client property and would ride as junk
      .filter { case (k, _) =>
        !k.startsWith("sasl.") && !k.startsWith("tls.")
      }
      .map { case (k, v) => s"kafka.$k" -> v }
    // nested sasl:/tls: blocks (reference README kafka example) become
    // the Kafka client security properties they stand for; any OTHER
    // nested value is a config error — stringifying a Map into a kafka.*
    // option would ship garbage to the broker handshake
    raw.collect {
      case (k, v: Map[_, _]) if k != "sasl" && k != "tls" =>
        sys.error(s"Kafka consumer_settings.$k is a nested block with no " +
          "translation — inline it as flat Kafka client properties")
      case (k, _: Seq[_]) =>
        sys.error(s"Kafka consumer_settings.$k is a list — Kafka client " +
          "options are scalars")
    }: Unit
    val starting =
      (settings.get("from.beginning").map(_.toBoolean),
        settings.get("auto.offset.reset")) match {
        case (Some(true), _) => Map("startingOffsets" -> "earliest")
        case (_, Some("earliest")) => Map("startingOffsets" -> "earliest")
        case (_, Some("latest")) => Map("startingOffsets" -> "latest")
        case (_, Some(other)) => sys.error(
          s"Kafka auto.offset.reset '$other' has no Spark startingOffsets " +
            "equivalent (use earliest or latest)")
        case _ => Map.empty[String, String]
      }
    base ++ sub ++ passthrough ++ securityOptions(raw) ++ starting ++
      conf.str("max_offsets_per_trigger").map("maxOffsetsPerTrigger" -> _) ++
      settings.get("group.id").map("kafka.group.id" -> _)
  }

  /** Translate the reference's `sasl:` / `tls:` security config —
    * NESTED blocks (README kafka input example) or FLAT dotted keys
    * (`sasl.mechanism`/`sasl.user`/`sasl.password`, the README kafka
    * OUTPUT form; healer config.go accepts both) — into Kafka client
    * security properties. Shared by the consumer (kafkaOptions) and the
    * producer sink. PEM material is INLINED (Kafka's ssl.*.type=PEM
    * string form) so executors need no local cert files — on a
    * 1000-executor cluster a file path would have to be pre-distributed
    * to every node. */
  private[graft] def securityOptions(raw: Map[String, Any]): Map[String, String] = {
    def block(name: String): Map[String, String] = {
      val nested = raw.get(name) match {
        case Some(m: Map[_, _]) =>
          m.map { case (k, v) => k.toString -> String.valueOf(v) }
            .toMap[String, String]
        case _ => Map.empty[String, String]
      }
      // flat dotted form: sasl.user → user; nested wins on conflict
      val flat = raw.collect {
        case (k, v) if k.startsWith(name + ".") && k != "tls.enabled" &&
            !v.isInstanceOf[Map[_, _]] && !v.isInstanceOf[Seq[_]] =>
          k.stripPrefix(name + ".") -> String.valueOf(v)
      }
      flat ++ nested
    }
    val sasl = block("sasl")
    val tls = block("tls")
    val tlsOn = tls.nonEmpty ||
      raw.get("tls.enabled").exists(_.toString == "true")
    def pem(key: String): Option[String] = tls.get(key).map { path =>
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      catch { case e: Exception => sys.error(
        s"Kafka consumer_settings.tls.$key: cannot read PEM at $path: $e") }
    }
    val saslProps: Map[String, String] = if (sasl.isEmpty) Map.empty
    else if (!sasl.contains("user") && !sasl.contains("password")) {
      // no healer-style credentials: these are NATIVE Kafka client
      // properties (sasl.mechanism, sasl.jaas.config, sasl.kerberos.*) —
      // pass through verbatim; only user/password need translation
      sasl.map { case (k, v) => s"kafka.sasl.$k" -> v }
    } else {
      val mech = sasl.getOrElse("mechanism", "PLAIN").toUpperCase
      val module = mech match {
        case "PLAIN" => "org.apache.kafka.common.security.plain.PlainLoginModule"
        case "SCRAM-SHA-256" | "SCRAM-SHA-512" =>
          "org.apache.kafka.common.security.scram.ScramLoginModule"
        case other => sys.error(s"Kafka sasl.mechanism '$other' is not " +
          "translatable (PLAIN / SCRAM-SHA-256 / SCRAM-SHA-512)")
      }
      val user = sasl.getOrElse("user",
        sys.error("Kafka consumer_settings.sasl needs `user`"))
      val password = sasl.getOrElse("password",
        sys.error("Kafka consumer_settings.sasl needs `password`"))
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      // an EXPLICIT security.protocol wins: SASL against a TLS broker
      // trusted via system CAs needs SASL_SSL with no tls: block, and
      // overriding it to SASL_PLAINTEXT would break the handshake
      Map(
        "kafka.sasl.mechanism" -> mech,
        "kafka.sasl.jaas.config" ->
          s"""$module required username="${esc(user)}" password="${esc(password)}";""",
        "kafka.security.protocol" ->
          raw.get("security.protocol").map(String.valueOf).getOrElse(
            if (tlsOn) "SASL_SSL" else "SASL_PLAINTEXT"))
    }
    val tlsProps: Map[String, String] = if (!tlsOn) Map.empty else {
      val proto =
        if (sasl.nonEmpty) Map.empty[String, String] // set above
        else Map("kafka.security.protocol" ->
          raw.get("security.protocol").map(String.valueOf).getOrElse("SSL"))
      val trust = pem("ca").map(c => Map(
        "kafka.ssl.truststore.type" -> "PEM",
        "kafka.ssl.truststore.certificates" -> c)).getOrElse(Map.empty)
      val keyStore = (pem("cert"), pem("key")) match {
        case (Some(c), Some(k)) => Map(
          "kafka.ssl.keystore.type" -> "PEM",
          "kafka.ssl.keystore.certificate.chain" -> c,
          "kafka.ssl.keystore.key" -> k)
        case (None, None) => Map.empty[String, String]
        case _ => sys.error("Kafka consumer_settings.tls needs BOTH " +
          "`cert` and `key` (or neither, for server-auth-only TLS)")
      }
      // healer's insecure.skip.verify disables hostname verification;
      // Kafka's equivalent is an empty endpoint identification algorithm
      val skip =
        if (tls.get("insecure.skip.verify").contains("true"))
          Map("kafka.ssl.endpoint.identification.algorithm" -> "")
        else Map.empty[String, String]
      tls.get("servername").foreach { _ =>
        System.err.println("[graft] Kafka tls.servername (SNI override) " +
          "has no Kafka-client equivalent — dropped; the broker cert " +
          "must match the bootstrap address")
      }
      proto ++ trust ++ keyStore ++ skip
    }
    saslProps ++ tlsProps
  }

  /** Kafka record frame → event frame, with optional `@metadata`
    * decoration (input/kafka_input.go:138-144) and codec handling:
    * `plain` keeps the raw `message`; `json` parses it into columns with
    * the plain fallback on non-object/invalid records (same probe as
    * `Codecs.jsonDecode`). Spark parses with a DECLARED schema, so
    * `codec: json` requires a `schema` (DDL) — failing fast here beats
    * silently shipping unparsed messages to a migrated pipeline. Input
    * needs value/timestamp/topic/partition/offset columns — testable on
    * a manual df. */
  def kafkaDecode(raw: DataFrame, decorate: Boolean,
      codec: String = "plain",
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val decoded = raw.select(col("value").cast("string").as("message"),
      col("timestamp").as("@timestamp"), col("topic"), col("partition"), col("offset"))
    val withMeta =
      if (decorate)
        decoded.withColumn("@metadata",
          struct(col("topic"), col("partition"), col("offset")))
          .drop("topic", "partition", "offset")
      else decoded.drop("topic", "partition", "offset")
    codec match {
      case "json" =>
        val sch = schema.getOrElse(sys.error(
          "Kafka codec 'json' needs a `schema` (DDL string): Spark parses " +
            "with a declared schema. Omit `codec` for raw message passthrough."))
        val msg = col("message")
        val failed = msg.isNull || try_parse_json(msg).isNull ||
          !msg.rlike("""^\s*\{""")
        val parsed = withMeta
          .withColumn("__graft_json", when(!failed, from_json(msg, sch)))
          .withColumn("message", when(failed, msg))
        parsed.select(col("__graft_json.*") +:
          parsed.columns.filterNot(_ == "__graft_json")
            .map(c => col(s"`$c`")): _*)
      case _ => withMeta
    }
  }

  /** Streaming inputs (Kafka plumbing mirrors input/kafka_input.go). */
  def streamingInput(spark: SparkSession, name: String, conf: Map[String, Any]): DataFrame =
    name match {
      case "Kafka" =>
        val raw = spark.readStream.format("kafka")
          .options(kafkaOptions(conf)).load()
        kafkaDecode(raw, conf.bool("decorate_events", false),
          conf.str("codec").getOrElse("plain"),
          conf.str("schema").map(org.apache.spark.sql.types.StructType.fromDDL))
      case "Rate" =>
        spark.readStream.format("rate")
          .option("rowsPerSecond", conf.int("rows_per_second", 10)).load()
      case "UDP" =>
        // reference: input/udp_input.go — custom DSv2 micro-batch source
        spark.readStream.format("graft-udp")
          .option("port", conf.int("port", 9999))
          .option("max_length", conf.int("max_length", 65536))
          .option("add_remote_addr", conf.bool("add_remote_addr", true))
          .load()
      case "TCP" =>
        // reference: input/tcp_input.go — line-oriented LISTENER (custom
        // DSv2 micro-batch source; the reference accepts connections,
        // unlike Spark's dial-out socket source)
        spark.readStream.format("graft-tcp")
          .option("port", conf.int("port", 9999))
          .option("max_buffer", conf.int("max_buffer", 65536))
          .load()
      case "Custom" =>
        // user source class — the same InputPlugin seam as batch: the
        // plugin decides whether read(spark) returns a readStream frame
        Plugins.forConf(conf) match {
          case p: Plugins.InputPlugin => p.read(spark)
          case other => sys.error(s"custom input ${other.getClass.getName} " +
            "must implement graft.pipeline.Plugins.InputPlugin")
        }
      case other => sys.error(s"unknown streaming input '$other'")
    }

  // ---- assembly -----------------------------------------------------------

  final case class Pipeline(
      spec: PipelineConfig.Spec,
      stages: Seq[(String, Map[String, Any])]) {

    def transform(df: DataFrame): DataFrame =
      stages.foldLeft(df) { case (d, (n, c)) => filterStage(n, c)(d) }

    /** Batch run: union inputs, transform, route to sinks.
      * The whole run — INCLUDING the stage plan build — sits inside the
      * try/finally: a stage that throws mid-chain (an AnalysisException
      * from a missing column, say) after an earlier incremental-dedup
      * stage already registered its store update must not leak that hook
      * to the NEXT run on this thread, whose successful sinks would drain
      * it and append the failed run's fingerprints to the seen store —
      * poisoning the failed increment's retry (the exact bug PostCommit
      * exists to prevent). Same for CacheRegistry memos (benign, but they
      * would accumulate). */
    def runBatch(spark: SparkSession): Map[String, DataFrame] = {
      try {
        if (spec.inputs.isEmpty)
          sys.error("pipeline config has no `inputs:` section — nothing to read")
        val in = spec.inputs.map { case (n, c) => input(spark, n, c) }
          .reduceLeft(_.unionByName(_, allowMissingColumns = true))
        if (in.isStreaming)
          sys.error("a Custom input returned a STREAMING frame — add " +
            "`streaming: true` to that input so the pipeline routes " +
            "through runStreaming")
        val transformed = transform(in)
        val out = spec.outputs.map { case (n, c) =>
          val guarded = c.strSeq("if")
            .map(cond => ConditionFilter.compile(cond, transformed))
            .reduceOption(_ && _)
            .map(transformed.filter).getOrElse(transformed)
          n -> graft.sinks.Sinks.writeBatch(n, c, guarded)
        }.toMap
        // deferred stage side effects (seen-store updates) run only once
        // every sink has succeeded — updating earlier would poison a
        // failed run's retry (see PostCommit)
        graft.core.PostCommit.drain()
        out
      } finally {
        graft.core.PostCommit.clear() // failed run: drop unexecuted hooks
        // the sinks were the run's consuming actions: free the
        // corpus-stage memos (joinBackOnce drop sets, shingle/assignment
        // tables) so a long-lived session looping corpora doesn't
        // accumulate cache
        graft.core.CacheRegistry.drain()
      }
    }
  }

  /** Streaming run: stream inputs → the SAME declarative transform chain →
    * one `foreachBatch` that routes each micro-batch through the batch
    * sink writers (micro-batch boundaries replace the reference's
    * count/size/interval bulk triggers — SURVEY §2.7). Returns the started
    * query; caller owns awaitTermination/stop (the reference's graceful
    * 30 s drain maps to `query.stop()`). */
  def runStreaming(spark: SparkSession, pipeline: Pipeline,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    if (pipeline.spec.inputs.isEmpty)
      sys.error("pipeline config has no `inputs:` section — nothing to read")
    val in = pipeline.spec.inputs
      .map { case (n, c) => streamingInput(spark, n, c) }
      .reduceLeft(_.unionByName(_, allowMissingColumns = true))
    val (streamStages, perBatchStages) = streamingSplit(pipeline.stages)
    val streamed = streamStages.foldLeft(in) { case (d, (n, c)) => filterStage(n, c)(d) }
    startForeachBatch(pipeline, streamed, checkpoint, perBatchStages)
  }

  /** foreachBatch writer over an already-transformed streaming frame —
    * also the seam tests use to drive a MemoryStream through the chain.
    * `perBatchStages` (from `streamingSplit`) are the tail of the filter
    * chain re-applied to every micro-batch DataFrame — the fan-out that
    * lets a metric stage UNION ALL its synthetic events with the raw
    * batch before the sinks see it. */
  def startForeachBatch(pipeline: Pipeline, transformed: DataFrame,
      checkpoint: Option[String] = None,
      perBatchStages: Seq[(String, Map[String, Any])] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var w = transformed.writeStream
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    w.foreachBatch { (raw: DataFrame, _: Long) =>
      try {
        // stage build inside the try for the same reason as runBatch: a
        // throwing per-batch stage must not leak an earlier stage's
        // post-commit hook into the next micro-batch on this thread
        val batch = perBatchStages.foldLeft(raw) { case (d, (n, c)) => filterStage(n, c)(d) }
        pipeline.spec.outputs.foreach { case (n, c) =>
          val guarded = c.strSeq("if")
            .map(cond => ConditionFilter.compile(cond, batch))
            .reduceOption(_ && _)
            .map(batch.filter).getOrElse(batch)
          graft.sinks.Sinks.writeBatch(n, c, guarded): Unit
        }
        graft.core.PostCommit.drain() // batch committed: run deferred stage effects
      } finally {
        graft.core.PostCommit.clear()
        // per-micro-batch memos (a corpus stage in the per-batch tail) are
        // consumed once the batch's sinks finish — drain or they accumulate
        // one cache entry per micro-batch for the query's lifetime
        graft.core.CacheRegistry.drain()
      }
    }.start()
  }

  def fromYaml(yamlText: String): Pipeline = {
    val spec = PipelineConfig.parse(yamlText)
    Pipeline(spec, spec.filters)
  }

  def fromFile(path: String): Pipeline = {
    val spec = PipelineConfig.parseFile(path)
    Pipeline(spec, spec.filters)
  }
}
