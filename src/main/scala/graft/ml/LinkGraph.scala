package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Crawl link-graph analysis: outlink extraction → host-level graph →
  * fixed-point PageRank. This is the artifact large crawl pipelines
  * actually publish and consume (CommonCrawl's host webgraph + rank
  * feeds crawl-frontier prioritization and quality priors for
  * training-data curation).
  *
  * Determinism as a design constraint: PageRank here runs in SCALED
  * INTEGER arithmetic (rank × 10^scaleDigits as LONG, floor division),
  * not doubles. Floating-point PageRank accumulates different
  * last-bit sums under different partition counts / reduce orders —
  * the same corpus ranks differently on a 10-node vs 1000-node
  * cluster. Integer addition is associative: this form is
  * bit-reproducible at ANY scale, and exactly replayable by the
  * DuckDB oracle (`//`). Precision 10^-12 dwarfs PageRank's own
  * iteration error.
  */
object LinkGraph {

  /** href outlinks of an HTML column, exploded: (idCol, dst_url).
    * Fragment-only and empty hrefs never emit. Pure per-row projection +
    * explode — no shuffle, scan speed at any corpus size. */
  def extractOutlinks(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(s"`$idCol`"),
        explode(regexp_extract_all(col(s"`$textCol`"),
          lit("""(?i)href\s*=\s*["']([^"'#]+)"""), lit(1))).as("dst_url"))
      .filter(length(col("dst_url")) > 0)

  /** Lowercased host of an absolute http(s) URL; null otherwise (relative
    * links carry no host — host-graph callers drop them). */
  def host(u: Column): Column = {
    val h = regexp_extract(lower(u), "^https?://([^/:?#]+)", 1)
    when(h === "", lit(null)).otherwise(h)
  }

  /** Host-level edge list with multiplicities: (src_host, dst_host,
    * n_links). Self-loops and non-absolute links are dropped. One
    * shuffle, keyed by the host pair — the web's host graph is ~10^8
    * edges from a 10^11-page crawl, a plain hash aggregation. */
  def hostGraph(links: DataFrame, srcUrlCol: String, dstUrlCol: String): DataFrame =
    links.select(host(col(s"`$srcUrlCol`")).as("src_host"),
        host(col(s"`$dstUrlCol`")).as("dst_host"))
      .filter(col("src_host").isNotNull && col("dst_host").isNotNull &&
        col("src_host") =!= col("dst_host"))
      .groupBy("src_host", "dst_host").agg(count(lit(1)).as("n_links"))

  // ---- incremental host-graph store ---------------------------------------

  /** Append an increment's host-level edge counts to a cross-crawl
    * webgraph store — a parquet dir of (src_host, dst_host, n_links)
    * PARTIALS whose read path merges by sum, so the store equals the
    * [[hostGraph]] of every crawl ever appended. A daily crawl extends
    * the webgraph without re-scanning history; [[pageRank]] then runs
    * over the merged view.
    *
    * Same contract as the vocabulary store (counts MERGE, fingerprints
    * dedup): an append is NOT idempotent — drive it from the PostCommit
    * hook so a failed run's retry cannot double-count — and
    * [[compactHostGraphStore]] folds accumulated partials with the
    * shared tmp+rename crash contract. Returns distinct edges appended. */
  def appendToHostGraphStore(links: DataFrame, srcUrlCol: String,
      dstUrlCol: String, storePath: String): Long =
    // one-job counted append (r20): count rides the write action —
    // graft.core.Stores.appendCountedFiles has the protocol and crash
    // contract; the partial-summing read is file-name-insensitive
    graft.core.Stores.appendCounted(
      hostGraph(links, srcUrlCol, dstUrlCol), storePath)

  /** The merged (src_host, dst_host, n_links) view of a host-graph
    * store — one row per edge, partials summed. Empty for an absent
    * store. The store is SCANNED and aggregated, never joined raw. */
  def readHostGraphStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String): DataFrame =
    graft.core.Stores.readParquetIfExists(spark, storePath)
      .map(_.groupBy("src_host", "dst_host").agg(sum("n_links").as("n_links")))
      .getOrElse {
        import spark.implicits._
        Seq.empty[(String, String, Long)].toDF("src_host", "dst_host", "n_links")
      }

  /** Fold a host-graph store's partials into one summed row per edge
    * across `targetFiles` files. Idempotent; crash contract:
    * [[graft.core.Stores]]. */
  def compactHostGraphStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String, targetFiles: Int = 32): Long =
    graft.core.Stores.compact(spark, storePath, targetFiles, None)(
      _.groupBy("src_host", "dst_host").agg(sum(col("n_links")).as("n_links")))

  /** Fixed-point PageRank over an edge list: returns (node, rank_scaled)
    * where rank_scaled = rank × 10^scaleDigits (LONG). Init rank 1.0 per
    * node; per iteration every node gets `(100-dampingPct)/100` base plus
    * `dampingPct/100` of the summed in-contributions, each source
    * splitting its rank equally over its distinct out-edges (floor
    * division; dangling mass is dropped, the usual simplification).
    *
    * Overflow headroom: the largest intermediate is ~total scaled mass,
    * so the node count must stay under ~9·10^18 / 10^scaleDigits — at
    * the default 12 digits that is ~10^6 nodes (host graphs: fine);
    * pass scaleDigits 9 for ~10^9 nodes. The damping multiply uses the
    * split form `(s/100)*d + ((s%100)*d)/100` — identical floor result,
    * never forms s*d.
    *
    * Plan shape: K iterations = K (join + partial-agg shuffle) rounds
    * keyed by node — the canonical Spark iterative workload. The edge
    * frame is reused every round: persist/bucket it by `src` upstream
    * and every join co-locates; ranks (one row per node) is the small,
    * changing side and AQE broadcasts it when it fits. */
  /** In/out-degree distribution audit for an edge list — the pre-flight
    * skew check before any iterative graph job at corpus scale: a hub
    * whose in-degree dwarfs the median is exactly the shape that funnels
    * a full in-edge list through one reducer unless every downstream
    * aggregation is map-side-partial (the [[pageRank]] hub guard), and
    * the cheap way to KNOW a webgraph has that shape is this statistic,
    * not a failed 3-hour job. One row per side:
    * (side, n_nodes, n_edges, max_degree, p50/p90/p99_degree, hub_share)
    * where hub_share = max_degree / n_edges (the single hottest node's
    * fraction of all edges — the broadcast/salting decision input).
    *
    * Plan shape: per side one partially-aggregated groupBy (map-side
    * combine absorbs the hub's count before the shuffle) plus one 1-row
    * global aggregate — statistics from group sizes, never a join, the
    * minhashBandStats discipline. Exact `percentile` is bit-identical
    * to DuckDB `quantile_cont` (the recorded (n-1)·p lerp fact), so the
    * quantile VALUES are oracle-comparable; the percentile buffer holds
    * one value per NODE (bounded by the host count, not the edge
    * count), so exact is safe here where per-event metrics need the GK
    * sketch. */
  def degreeStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    def side(name: String, key: String): DataFrame =
      edges.groupBy(col(s"`$key`").as("node"))
        .agg(count(lit(1)).as("deg"))
        .agg(
          count(lit(1)).as("n_nodes"),
          sum("deg").as("n_edges"),
          max("deg").as("max_degree"),
          percentile(col("deg"), lit(0.5)).as("p50_degree"),
          percentile(col("deg"), lit(0.9)).as("p90_degree"),
          percentile(col("deg"), lit(0.99)).as("p99_degree"))
        .select(lit(name).as("side"), col("n_nodes"), col("n_edges"),
          col("max_degree"), col("p50_degree"), col("p90_degree"),
          col("p99_degree"),
          (col("max_degree") / col("n_edges")).as("hub_share"))
    side("out", srcCol).unionByName(side("in", dstCol))
  }

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, dampingPct: Int = 85,
      scaleDigits: Int = 12, driverEdgeLimit: Long = 1000000L): DataFrame = {
    require(iterations >= 1, "pageRank needs at least one iteration")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct in [0,100]")
    val one = math.pow(10, scaleDigits).toLong
    val base = (100 - dampingPct) * one / 100
    // Materialize the loop INVARIANTS once and CUT each iteration's
    // lineage (the trainKmeansCentroids pattern): without the
    // cuts, iteration k's plan re-derives the edge table and
    // every previous iteration from scratch — quadratic total work that
    // count()-consumed benchmarks silently hid (the r13 head() audit
    // measured the un-cut chain at 4× the honest linear cost). Values
    // are unchanged: fixed-point integer arithmetic, bit-reproducible at
    // any partition count.
    val e = edges.select(col(s"`$srcCol`").as("src"), col(s"`$dstCol`").as("dst"))
      .distinct().transform(graft.core.CacheRegistry.cut)
    // Adaptive strategy switch (r19, the Dedup.clusters precedent): when
    // the distinct edge list is bounded, the fixed-point loop runs on
    // the driver over one CacheRegistry.pull — 5 iterations of join +
    // groupBy + cut on a tiny graph pay ~10 small jobs of pure
    // scheduling latency (measured ~1.3 s of q_pagerank's 1.4 s at
    // sf0.1, a 13-node graph). The arithmetic is the identical scaled-
    // integer div/% lattice, bit-reproducible on either path (spec'd in
    // LinkGraphSpec both ways); the over-limit path is byte-identical to
    // the pre-r19 distributed loop.
    val local = graft.core.CacheRegistry.pull(e, driverEdgeLimit)(_.toArray)
    if (local.isDefined)
      return pageRankLocal(e, local.get, iterations, one, base, dampingPct)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .transform(graft.core.CacheRegistry.cut)
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("out_deg"))
    val withDeg = e.join(outDeg, "src")

    var ranks = nodes.withColumn("rank_scaled", lit(one))
    (1 to iterations).foreach { i =>
      // `div` is Spark's INTEGRAL division: Column./ on longs is double
      // division, whose round-to-nearest can exceed the true quotient
      // before a cast truncates — not floor, and not what the oracle's
      // exact `//` computes
      val contribs = withDeg
        .join(ranks, withDeg("src") === ranks("node"))
        .select(col("dst"),
          expr("rank_scaled div out_deg").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("mass"))
      val damped = expr(
        s"(mass div 100) * $dampingPct + ((mass % 100) * $dampingPct) div 100")
      val next = nodes.join(contribs, nodes("node") === contribs("dst"), "left")
        .select(col("node"),
          (lit(base) + coalesce(damped, lit(0L))).as("rank_scaled"))
      // node-sized frame: each round materializes |nodes| rows, the last
      // round stays lazy for the caller's plan to consume
      ranks = if (i < iterations) graft.core.CacheRegistry.cut(next) else next
    }
    ranks
  }

  /** Driver fixed-point loop over a bounded distinct edge list (see
    * [[pageRank]]): the same scaled-integer lattice —
    * contrib = rank div out_deg per edge, mass summed per dst,
    * damped = (mass div 100)·d + ((mass % 100)·d) div 100,
    * next = base + damped — with SQL join semantics for nulls (a null
    * src contributes nothing, a null dst receives nothing; both still
    * appear as nodes at rank base + 0). Values are positive longs, so
    * Scala `/`/`%` equal Spark's integral `div`/`%`. Result is
    * re-parallelized with the distributed path's (node, rank_scaled)
    * schema. */
  private def pageRankLocal(e: DataFrame, edgeRows: Array[Row], iterations: Int,
      one: Long, base: Long, dampingPct: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = e.sparkSession
    val idType = e.schema.head.dataType
    val src = edgeRows.map(_.get(0))
    val dst = edgeRows.map(_.get(1))
    val nodes = new java.util.LinkedHashSet[Any]()
    var i = 0
    while (i < src.length) { nodes.add(src(i)); nodes.add(dst(i)); i += 1 }
    val plus = new java.util.function.BiFunction[java.lang.Long,
        java.lang.Long, java.lang.Long] {
      override def apply(a: java.lang.Long, b: java.lang.Long): java.lang.Long =
        java.lang.Long.valueOf(a.longValue + b.longValue)
    }
    val outDeg = new java.util.HashMap[Any, java.lang.Long]()
    i = 0
    while (i < src.length) {
      if (src(i) != null)
        outDeg.merge(src(i), java.lang.Long.valueOf(1L), plus)
      i += 1
    }
    val ranks = new java.util.HashMap[Any, java.lang.Long]()
    val nit = nodes.iterator()
    while (nit.hasNext) ranks.put(nit.next(), java.lang.Long.valueOf(one))
    var iter = 1
    while (iter <= iterations) {
      val mass = new java.util.HashMap[Any, java.lang.Long]()
      i = 0
      while (i < src.length) {
        val s = src(i)
        if (s != null) {
          val contrib = ranks.get(s).longValue / outDeg.get(s).longValue
          if (dst(i) != null)
            mass.merge(dst(i), java.lang.Long.valueOf(contrib), plus)
        }
        i += 1
      }
      val nit2 = nodes.iterator()
      val next = new java.util.HashMap[Any, java.lang.Long]()
      while (nit2.hasNext) {
        val n = nit2.next()
        val mBox = if (n == null) null else mass.get(n)
        val damped =
          if (mBox == null) 0L
          else {
            val m = mBox.longValue
            (m / 100) * dampingPct + ((m % 100) * dampingPct) / 100
          }
        next.put(n, java.lang.Long.valueOf(base + damped))
      }
      ranks.clear(); ranks.putAll(next)
      iter += 1
    }
    val rows = scala.collection.immutable.ArraySeq.unsafeWrapArray(
      nodes.toArray.map(n => Row(n, ranks.get(n).longValue)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.length / 500000)),
      StructType(Seq(StructField("node", idType),
        StructField("rank_scaled", LongType, nullable = false))))
  }
}
