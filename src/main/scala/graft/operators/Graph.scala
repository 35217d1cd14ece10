package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality (SURVEY.md §2.3 extensions): integer-quantized
  * PageRank for corpus curation — the seed-quality / domain-importance
  * signal web-corpus pipelines rank domains with (Page et al. 1999; used
  * for crawl prioritization and source weighting in public web-corpus
  * recipes). Expressed join-by-join on DataFrames, not a graph library.
  *
  * DETERMINISM (the repo-wide micro-unit discipline): ranks live in
  * integer MICRO units (1.0 ≡ 1,000,000), every per-edge contribution is
  * damped and floor-divided in integer arithmetic BEFORE the per-target
  * sum, and integer sums are order-independent — so the result is
  * bit-identical at any partitioning and exactly re-derivable by unrolled
  * ANSI-SQL CTEs (the oracle form). No doubles anywhere.
  */
object Graph {

  /** Integer PageRank over a directed edge list. Per iteration, every
    * node's new rank is
    *
    *   base + Σ_incoming (dampingMicro · (r_src div out_deg(src))) div 10⁶
    *
    * with base = 10⁶ − dampingMicro and all ranks starting at 10⁶ (one
    * unit of un-normalized mass per node — PageRank up to a constant
    * factor, the form that needs no global N in the inner loop). Dangling
    * nodes (no outgoing edges) keep receiving but contribute nothing —
    * their mass share leaks, the standard simplification when ranks are
    * used as an ORDERING signal rather than a probability. Duplicate and
    * NULL-endpoint edges are dropped up front; out-degree counts distinct
    * targets.
    *
    * Scale shape: per iteration exactly two shuffles — the ranks⋈edges
    * join on src and the contribution sum on dst — both on graph keys,
    * nothing driver-side; each round is checkpointed so the plan stays
    * O(1) deep regardless of `iterations`. The out-degree is loop-
    * invariant, so it is folded into the NODE frame once (checkpointed)
    * and threaded through the rank frame: the per-source damped quotient
    * is computed ROW-LOCALLY on the O(nodes) rank table (one divide per
    * source per round, not per edge) and only (src, contribution) fans
    * onto the narrow (src, dst) edge list — the big per-round shuffle
    * carries two graph keys and one long (r16 squeeze). That join hints
    * SHUFFLE_HASH with the rank slice as build side: a sort-merge join
    * would re-sort the checkpointed edge list EVERY round (the partition
    * info is lost at the checkpoint boundary), while the hash build is
    * the O(nodes/partitions) side — size `spark.sql.shuffle.partitions`
    * so a rank partition fits executor memory, the same dial every other
    * key-reduce here already needs; AQE's skew-split still applies to the
    * probe (edge) side. Overflow bound: per-target
    * sums stay within Long for total graph mass up to ~9·10¹² micro-units
    * per receiving node; the damping multiply needs any SINGLE node's rank
    * below ~10¹³ micro (≈10⁷ nodes' worth of mass concentrated on one
    * hub) — beyond that, scale `dampingMicro` precision down.
    *
    * Returns one row per node: (id, rank_micro), id typed as the edge
    * endpoint columns. */
  def pageRankInt(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 3,
      dampingMicro: Long = 850000L): DataFrame = {
    require(iterations >= 1 && iterations <= 100, "iterations must be in [1, 100]")
    require(dampingMicro >= 0 && dampingMicro <= 1000000L,
      "dampingMicro must be in [0, 1000000]")
    val base = 1000000L - dampingMicro
    val e0 = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
    Materialize.rounds(edges.sparkSession) { rounds =>
      // the NARROW edge list, checkpointed once: the loop's big join input
      // never recomputes the distinct and carries no degree payload
      val ek = rounds.invariant(e0)
      // nodes carry their loop-invariant out-degree (NULL = sink, which
      // receives but contributes nothing), computed and checkpointed once
      // and threaded through the rank frame across rounds
      val deg = ek.groupBy("src").agg(count(lit(1)).as("__deg"))
      val nodes = rounds.invariant(
        ek.select(col("src").as("id")).union(ek.select(col("dst").as("id"))).distinct()
          .join(deg.withColumnRenamed("src", "id"), Seq("id"), "left"))
      var ranks = rounds.next(nodes.withColumn("rank_micro", lit(1000000L)))
      for (_ <- 1 to iterations) {
        // per-source damped quotient, ROW-LOCAL on the O(nodes) rank
        // frame: one divide per source per round, not one per edge.
        // `div` is Spark's exact integer floor-division on longs — the
        // double `/` would round above 2^53 and break bit-reproducibility
        val srcC = ranks.filter(col("__deg").isNotNull)
          .select(col("id").as("src"),
            expr(s"(${dampingMicro}L * (rank_micro div __deg)) div 1000000L").as("__c"))
        val contrib = ek.join(srcC.hint("shuffle_hash"), Seq("src"))
          .groupBy("dst").agg(sum(col("__c")).as("__s"))
        ranks = rounds.next(
          nodes.join(contrib, nodes("id") === contrib("dst"), "left")
            .select(nodes("id"), nodes("__deg"),
              (lit(base) + coalesce(col("__s"), lit(0L))).as("rank_micro")))
      }
      rounds.keep().select("id", "rank_micro")
    }
  }

  /** Personalized PageRank (integer form): [[pageRankInt]] with the
    * restart mass concentrated on a SEED set instead of spread uniformly
    * — the "importance relative to THESE nodes" signal behind
    * related-entity expansion, graph-based recommendation, and seeded
    * spam/community scoring (the random surfer teleports back to the
    * seeds, so rank decays with distance from them). Non-seed nodes get
    * base mass 0; unreachable-from-seeds nodes correctly score 0.
    *
    * Same integer recurrence, damping semantics, dangling-leak
    * simplification, per-iteration two-shuffle shape, checkpoint
    * discipline and overflow bounds as [[pageRankInt]] — the only change
    * is the base term: `is_seed · (10⁶ − dampingMicro)`. Seeds ride a
    * broadcast join onto the node table (seed sets are small by
    * definition of the operator).
    *
    * Returns one row per node: (id, rank_micro). */
  def personalizedPageRankInt(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedIdCol: String,
      iterations: Int = 3,
      dampingMicro: Long = 850000L): DataFrame = {
    require(iterations >= 1 && iterations <= 100, "iterations must be in [1, 100]")
    require(dampingMicro >= 0 && dampingMicro <= 1000000L,
      "dampingMicro must be in [0, 1000000]")
    val base = 1000000L - dampingMicro
    val e0 = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
    // the pageRankInt r16 loop shape: narrow checkpointed edge list, the
    // loop-invariant out-degree folded into the node frame (NULL = sink),
    // per-source damped quotient computed row-locally per round
    Materialize.rounds(edges.sparkSession) { rounds =>
      val ek = rounds.invariant(e0)
      val deg = ek.groupBy("src").agg(count(lit(1)).as("__deg"))
      val seedSet = seeds.select(col(seedIdCol).as("id"), lit(1L).as("__seed")).distinct()
      val nodes = rounds.invariant(
        ek.select(col("src").as("id")).union(ek.select(col("dst").as("id"))).distinct()
          .join(broadcast(seedSet), Seq("id"), "left")
          .select(col("id"), coalesce(col("__seed"), lit(0L)).as("__seed"))
          .join(deg.withColumnRenamed("src", "id"), Seq("id"), "left"))
      var ranks = rounds.next(
        nodes.select(col("id"), col("__seed"), col("__deg"),
          (col("__seed") * lit(1000000L)).as("rank_micro")))
      for (_ <- 1 to iterations) {
        val srcC = ranks.filter(col("__deg").isNotNull)
          .select(col("id").as("src"),
            expr(s"(${dampingMicro}L * (rank_micro div __deg)) div 1000000L").as("__c"))
        val contrib = ek.join(srcC.hint("shuffle_hash"), Seq("src"))
          .groupBy("dst").agg(sum(col("__c")).as("__s"))
        ranks = rounds.next(
          nodes.join(contrib, nodes("id") === contrib("dst"), "left")
            .select(nodes("id"), nodes("__seed"), nodes("__deg"),
              (nodes("__seed") * lit(base) + coalesce(col("__s"), lit(0L)))
                .as("rank_micro")))
      }
      rounds.keep().select("id", "rank_micro")
    }
  }

  /** Cluster-size audit over a connected-components labeling (any
    * (node, component) frame, e.g. [[Dedup.connectedComponents]]'s
    * output) — the OVER-MERGE detector for the dedup families: a banding
    * threshold set too loose shows up as one giant component absorbing
    * the corpus, and this histogram is where that becomes a number
    * (`nodes_share_micro` of the top size class). Two key-bounded reduces
    * (component sizes, then size classes — ≤ distinct sizes rows) plus a
    * broadcast 1-row total; the share quantizes once
    * (`round((size · count · 1e6) / total_nodes)`).
    *
    * Returns (component_size, n_components, n_nodes, nodes_share_micro),
    * one row per observed size class. */
  def componentSizes(
      cc: DataFrame,
      componentCol: String = "component"): DataFrame = {
    val hist = cc.groupBy(col(componentCol)).agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("component_size"))
      .agg(count(lit(1)).as("n_components"))
      .withColumn("n_nodes", col("component_size") * col("n_components"))
    hist.crossJoin(broadcast(cc.agg(count(lit(1)).as("__n"))))
      .select(col("component_size"), col("n_components"), col("n_nodes"),
        round((col("n_nodes") * lit(1e6)) / col("__n")).cast("long")
          .as("nodes_share_micro"))
  }

  /** Mergeable co-occurrence STORE for one batch: exact counts don't need
    * sketches — (pair, item, total) count rows compose across batches by
    * plain addition, so the history never rescans (the HLL/KLL/theta
    * store convention, with longs instead of sketch binaries). One frame,
    * kind-tagged: ("pair", a, b, n), ("item", a, NULL, n),
    * ("total", NULL, NULL, n_baskets).
    *
    * CONTRACT: batches must partition BASKETS (a basket straddling two
    * batches would under-count its cross-batch pairs — same no-straddle
    * contract as the pair semantics itself), and `minPairCount` is NOT
    * applied here: a pair seen once per batch across three batches is a
    * count-3 pair, so the floor belongs at serve time over the MERGED
    * counts ([[coOccurrenceFromStore]]) — pinned in OpsSpec. */
  def coOccurrenceStore(
      df: DataFrame,
      basketCol: String,
      itemCol: String,
      maxBasketSize: Int = 100): DataFrame = {
    require(maxBasketSize >= 2, "maxBasketSize must be >= 2 (pairs need 2)")
    val bi = df
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
    val sizes = bi.groupBy(col("__b")).agg(count(lit(1)).as("__sz"))
    val kept = bi.join(sizes.filter(col("__sz") <= maxBasketSize), Seq("__b"))
      .select(col("__b"), col("__i"))
    val pairRows = kept.select(col("__b"), col("__i").as("item_a"))
      .join(kept.select(col("__b"), col("__i").as("item_b")), Seq("__b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n"))
      .select(lit("pair").as("kind"), col("item_a"), col("item_b"), col("n"))
    val itemRows = kept.groupBy(col("__i").as("item_a"))
      .agg(count(lit(1)).as("n"))
      .select(lit("item").as("kind"), col("item_a"),
        lit(null).cast(pairRows.schema("item_b").dataType).as("item_b"), col("n"))
    val totalRow = kept.select(col("__b")).distinct()
      .agg(count(lit(1)).as("n"))
      .select(lit("total").as("kind"),
        lit(null).cast(pairRows.schema("item_a").dataType).as("item_a"),
        lit(null).cast(pairRows.schema("item_b").dataType).as("item_b"), col("n"))
    pairRows.unionByName(itemRows).unionByName(totalRow)
  }

  /** Re-merges any union of per-batch [[coOccurrenceStore]] frames (counts
    * add; NULL-safe grouping keeps the three kinds apart). */
  def coOccurrenceMergeStores(store: DataFrame): DataFrame =
    store.groupBy(col("kind"), col("item_a"), col("item_b"))
      .agg(sum(col("n")).as("n"))

  /** Serves the [[coOccurrence]] result from a merged store: applies the
    * `minPairCount` floor over the MERGED counts and recomputes
    * lift/Jaccard with the identical quantization — under the
    * basket-partition contract this is row-for-row the batch operator on
    * the union of the batches (pinned + oracle-checked). */
  def coOccurrenceFromStore(
      store: DataFrame,
      minPairCount: Long = 2L): DataFrame = {
    require(minPairCount >= 1, "minPairCount must be >= 1")
    val merged = coOccurrenceMergeStores(store)
    val pairs = merged.filter(col("kind") === "pair")
      .select(col("item_a"), col("item_b"), col("n").as("pair_baskets"))
      .filter(col("pair_baskets") >= minPairCount)
    val items = merged.filter(col("kind") === "item")
      .select(col("item_a").as("__i"), col("n").as("__ci"))
    val total = merged.filter(col("kind") === "total")
      .select(col("n").as("n_baskets"))
    pairs
      .join(items.select(col("__i").as("item_a"), col("__ci").as("item_a_baskets")),
        Seq("item_a"))
      .join(items.select(col("__i").as("item_b"), col("__ci").as("item_b_baskets")),
        Seq("item_b"))
      .crossJoin(broadcast(total))
      .select(col("item_a"), col("item_b"), col("pair_baskets"),
        col("item_a_baskets"), col("item_b_baskets"), col("n_baskets"),
        round((col("pair_baskets") * col("n_baskets") * lit(1000000.0)) /
          (col("item_a_baskets") * col("item_b_baskets"))).cast("long")
          .as("lift_micro"),
        round((col("pair_baskets") * lit(1000000.0)) /
          (col("item_a_baskets") + col("item_b_baskets") - col("pair_baskets")))
          .cast("long").as("jaccard_micro"))
  }

  /** Related-items index from a co-occurrence pair table: the
    * index-once/serve-many shape (the BM25/IVF convention applied to
    * recommendations) — every pair contributes BOTH directions, each
    * item keeps its top `k` neighbors by (lift desc, pair count desc,
    * neighbor id asc), emitted as (item, rank, related_id, pair_baskets,
    * lift_micro). The per-item rank is a WindowGroupLimit-pushable
    * row_number; freeze via `MetaPersist.writeModel(..., "related_items")`
    * and serve lookups with [[relatedItemsLookup]] — query time never
    * touches raw events. */
  def relatedItemsIndex(pairs: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 1, "k must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val sym = pairs
      .select(col("item_a").as("item"), col("item_b").as("related_id"),
        col("pair_baskets"), col("lift_micro"))
      .unionByName(pairs.select(col("item_b").as("item"),
        col("item_a").as("related_id"), col("pair_baskets"), col("lift_micro")))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("lift_micro").desc, col("pair_baskets").desc,
        col("related_id").asc)
    sym.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("item"), col("rank"), col("related_id"),
        col("pair_baskets"), col("lift_micro"))
  }

  /** Serves per-query neighbor lists from a frozen [[relatedItemsIndex]]:
    * the (small) query set broadcasts onto the index scan — one row per
    * (query id, rank), queries with no indexed item yield nothing (the
    * caller distinguishes cold items by anti-join if needed). */
  def relatedItemsLookup(
      index: DataFrame,
      queries: DataFrame,
      queryIdCol: String,
      queryItemCol: String): DataFrame =
    broadcast(queries.select(col(queryIdCol).as("query_id"),
        col(queryItemCol).as("item")))
      .join(index, Seq("item"))
      .select(col("query_id"), col("item"), col("rank"), col("related_id"),
        col("pair_baskets"), col("lift_micro"))

  /** Per-node triangle counts + local clustering coefficients — the
    * community-density signal (spam rings and botnets cluster; organic
    * neighborhoods have characteristic clustering), and the classic
    * "compact-forward" scale shape (Latapy 2008; Suri & Vassilvitskii
    * WWW'11 for the MapReduce form): orient every undirected edge from
    * the LOWER (degree, id) endpoint to the higher, so each triangle has
    * exactly ONE wedge vertex and is counted exactly once, and the wedge
    * join's per-node work is out-degree² with out-degree bounded ~O(√m)
    * on any graph — a power-law hub never becomes the wedge pivot for
    * its full neighborhood.
    *
    * Input edges are normalized first (self-loops dropped, duplicates and
    * direction collapsed). Returns one row per node:
    * (id, degree, n_triangles, clustering_micro) with
    * `clustering_micro = round((2·T·1e6) / (d·(d−1)))` (0 when d < 2) —
    * integer counts, one fixed-parenthesization double division quantized
    * to micro (the repo convention), so the whole result is exactly
    * re-derivable in ANSI SQL.
    *
    * Scale shape: two hash joins build the orientation (node-key degree
    * join), one wedge self-join on the pivot key, one (a, c) equi-join
    * closes the wedge, and the per-node rollup is an explode of the
    * 3-node triangle rows — no step exceeds the Σ out-deg² wedge bound.
    *
    * `inputNormalized = true` (r18) promises the input is ALREADY a
    * normalized undirected edge list — unique rows, `srcCol < dstCol`,
    * no NULLs, no self-loops (exactly what [[coOccurrence]] emits) — and
    * skips the least/greatest + distinct normalization pass, one full
    * edge-list exchange. Duplicates in a falsely-promised input would
    * double-count triangles; callers own the promise. */
  def triangles(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      inputNormalized: Boolean = false): DataFrame = {
    // CHECKPOINT DISCIPLINE (the measured ~two-thirds of the r14 bench
    // row): this operator's plan reads its inputs many times — `und`
    // feeds the degree reduce (twice, via the unionAll) plus the
    // orientation join, and `oriented` feeds the wedge self-join three
    // times — so without plan cuts the (often expensive) upstream edge
    // pipeline recomputes ~5x per run. Cut at the two reuse points with
    // ids-only pins: `und` (freed eagerly below once both dependents
    // materialize) and `deg`/`oriented` (both reachable from the returned
    // plan — `graftbridge.freeCheckpoints` or the ContextCleaner reclaim
    // them).
    val und = Materialize.pin(if (inputNormalized)
        edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      else edges
        .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
          col(srcCol) =!= col(dstCol))
        .select(least(col(srcCol), col(dstCol)).as("u"),
          greatest(col(srcCol), col(dstCol)).as("v"))
        .distinct())
    val deg = Materialize.pin(und.select(col("u").as("id"))
      .unionAll(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree")))
    // pendant pre-filter: a degree-1 vertex cannot close a triangle (all
    // three triangle vertices have degree >= 2 in the undirected graph),
    // so its edges only inflate the orientation joins and the wedge
    // build — drop them before orienting. One pass (not iterated 2-core
    // peeling): the first peel removes the bulk on the bench graphs and
    // stays a plain degree-key semi-filter.
    val core = deg.filter(col("degree") >= 2)
    val withDeg = und
      .join(core.select(col("id").as("u"), col("degree").as("__du")), Seq("u"))
      .join(core.select(col("id").as("v"), col("degree").as("__dv")), Seq("v"))
    val uFirst = col("__du") < col("__dv") ||
      (col("__du") === col("__dv") && col("u") < col("v"))
    // (a, b): a strictly precedes b in the (degree, id) total order
    val oriented = Materialize.pin(withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("a"),
      when(uFirst, col("v")).otherwise(col("u")).as("b")))
    // und's blocks served deg + oriented (both just materialized — pins
    // are eager); nothing downstream reads und again
    org.apache.spark.sql.graftbridge.freeCheckpoint(und)
    val tri = oriented
      .join(oriented.select(col("a").as("b"), col("b").as("c")), Seq("b"))
      .join(oriented.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering_micro",
        when(col("degree") < 2, lit(0L)).otherwise(
          round((col("n_triangles") * lit(2L) * lit(1000000.0)) /
            (col("degree") * (col("degree") - lit(1L)))).cast("long")))
  }

  /** k-core decomposition by iterative peeling (Seidman 1983; the standard
    * graph-trim before community/spam analysis at corpus scale — vertices
    * outside the k-core can't participate in any subgraph of minimum
    * degree k, so peeling them first shrinks every downstream traversal):
    * repeatedly drop vertices of degree < k together with their edges
    * until a fixpoint. Each round is one degree reduce + two
    * membership joins over the (checkpointed, ids-only) edge list — the
    * connected-components cost discipline — in a [[Materialize.rounds]]
    * scope: the PREVIOUS round's checkpoint frees as soon as the next
    * materializes, so plan depth and storage stay O(1) in rounds, and a
    * failure frees every live round.
    *
    * DETERMINISM / ORACLE CONTRACT: the result after `maxRounds` rounds is
    * well-defined whether or not the peel converged — the engine's
    * fixpoint early-exit is pure optimization (further rounds are no-ops)
    * — so an oracle that unrolls EXACTLY `maxRounds` rounds always
    * matches. Peeling removes ≥ 1 vertex per non-terminal round, so
    * maxRounds bounds are easy to size; the declared query documents its
    * dial.
    *
    * Input edges are normalized (self-loops dropped, duplicates and
    * direction collapsed). Returns one row per surviving vertex:
    * (id, core_degree) — its degree WITHIN the k-core subgraph (≥ k at
    * fixpoint). */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxRounds: Int = 16,
      inputNormalized: Boolean = false): DataFrame = {
    require(k >= 1, "k must be at least 1")
    require(maxRounds >= 1, "maxRounds must be at least 1")
    def degrees(e: DataFrame): DataFrame = e.select(col("u").as("id"))
      .unionAll(e.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    // inputNormalized: the [[triangles]] contract — input already unique,
    // src < dst, no NULLs/self-loops — skips the normalization exchange
    val e0 = if (inputNormalized)
        edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      else edges
        .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
          col(srcCol) =!= col(dstCol))
        .select(least(col(srcCol), col(dstCol)).as("u"),
          greatest(col(srcCol), col(dstCol)).as("v"))
        .distinct()
    Materialize.rounds(edges.sparkSession) { rounds =>
      // ONE job per round materializes it AND counts its edges, the
      // convergence probe
      var (e, n) = rounds.nextCounting(e0, lit(true))
      var r = 0
      var done = n == 0L
      while (r < maxRounds && !done) {
        val keep = degrees(e).filter(col("degree") >= k).select(col("id"))
        val (next, n2) = rounds.nextCounting(
          e.join(keep.select(col("id").as("u")), Seq("u"))
            .join(keep.select(col("id").as("v")), Seq("v"))
            .select(col("u"), col("v")),
          lit(true))
        done = n2 == n || n2 == 0L // no edge dropped → degrees unchanged → fixpoint
        e = next; n = n2; r += 1
      }
      degrees(rounds.keep()).select(col("id"), col("degree").as("core_degree"))
    }
  }

  /** Synchronous label propagation (Raghavan et al. 2007's near-linear
    * community detection, in its deterministic synchronous form): every
    * node starts labeled with its own id; each round, every node adopts
    * the most frequent label among its neighbors, ties broken by SMALLEST
    * label — a total, data-independent order, so the result is
    * bit-reproducible at any partitioning (the asynchronous/randomized
    * variant of the paper is not, and is deliberately not offered).
    * Communities out of LPA complement [[connectedComponents]] (which
    * merges everything reachable) by splitting dense regions joined only
    * by thin bridges.
    *
    * FIXED-ROUNDS CONTRACT (the [[kCore]] convention): exactly `rounds`
    * synchronous rounds — synchronous LPA can oscillate on bipartite
    * structures, so a fixpoint test is NOT the stop rule; the round count
    * is part of the operator's semantics and of the oracle's unrolled
    * re-derivation. Isolated-from-this-round nodes (no neighbors) keep
    * their current label.
    *
    * Scale shape: per round ONE edge-key join (labels onto the symmetric
    * edge list), one (node, label) reduce, and one node-key ARGMIN reduce
    * over the aggregated label counts — `min(struct(-count, label))`, the
    * exact (count desc, label asc) order as a lexicographic struct
    * minimum. r18: this replaces the earlier row_number window, which
    * needed a full sort of the (node, label) count table per round; the
    * argmin is a hash aggregate with map-side partials — no sort, fewer
    * shuffled bytes, same bit-exact winner. The label frame is
    * checkpointed per round (ids only) in a [[Materialize.rounds]] scope
    * so plans stay O(1) deep, with the previous round freed eagerly.
    *
    * `inputNormalized = true` is the [[triangles]] contract (unique rows,
    * src < dst, no NULLs/self-loops): the symmetric closure of such a
    * list is duplicate-free by construction, so the round-0 distinct is
    * skipped.
    *
    * Returns one row per node: (id, label) — `label` is the smallest
    * member id of the node's community under this round count. */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int = 3,
      inputNormalized: Boolean = false): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val e = edges
      .select(col(srcCol).as("u"), col(dstCol).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    Materialize.rounds(edges.sparkSession) { scope =>
      val und = scope.invariant(if (inputNormalized) sym else sym.distinct())
      var labels = scope.next(und.select(col("u").as("id")).distinct()
        .select(col("id"), col("id").as("label")))
      for (_ <- 1 to rounds) {
        val adopted = und
          .join(labels.select(col("id").as("u"), col("label")), Seq("u"))
          .groupBy(col("v").as("id"), col("label"))
          .agg(count(lit(1)).as("__n"))
          // argmin over (−count, label): lexicographic struct order gives
          // most-frequent-label, smallest-label tie-break — bit-identical
          // to the former (count desc, label asc) row_number pick
          .groupBy(col("id"))
          .agg(min(struct((-col("__n")).as("__negn"), col("label"))).as("__m"))
          .select(col("id"), col("__m.label").as("__new"))
        labels = scope.next(labels
          .join(adopted, Seq("id"), "left")
          .select(col("id"), coalesce(col("__new"), col("label")).as("label")))
      }
      scope.keep()
    }
  }

  /** Item co-occurrence mining (market basket / related items / co-click):
    * for every unordered item pair sharing at least `minPairCount`
    * baskets, the pair's basket count plus each item's own basket count,
    * lift and Jaccard — the "customers who bought A also bought B" signal,
    * and the item-item edge weight a recommender or a taxonomy builder
    * starts from.
    *
    * SKEW GUARD (the quadratic risk): a basket of size s yields s·(s−1)/2
    * pairs, so one degenerate mega-basket (a crawler session, a bot cart)
    * can dominate the whole join. Baskets larger than `maxBasketSize` are
    * DROPPED WHOLE before pairing — deterministic, oracle-expressible,
    * and the right semantics for "related items" (a basket of thousands
    * of items carries no affinity signal anyway). Dropped-basket counts
    * are observable via the returned `n_baskets` total vs a raw count.
    *
    * DETERMINISM: counts are exact longs; lift and Jaccard quantize ONCE
    * to micro units with a fixed parenthesization (the PMI convention):
    * `lift_micro = round((c_ab · N · 1e6) / (c_a · c_b))`,
    * `jaccard_micro = round((c_ab · 1e6) / (c_a + c_b − c_ab))`.
    *
    * Scale shape: one distinct over (basket, item), the size cap is one
    * basket-key aggregate joined back (broadcast of the tiny over-cap key
    * set would also work, but the kept set is the general case), the pair
    * join is basket-keyed with per-basket work ≤ cap², pair counts are
    * aggregated BEFORE the per-item count joins (which join only
    * aggregated tables), and the basket total rides a 1-row broadcast.
    *
    * Returns (item_a, item_b, pair_baskets, item_a_baskets,
    * item_b_baskets, n_baskets, lift_micro, jaccard_micro). */
  def coOccurrence(
      df: DataFrame,
      basketCol: String,
      itemCol: String,
      minPairCount: Long = 2L,
      maxBasketSize: Int = 100): DataFrame = {
    require(minPairCount >= 1, "minPairCount must be >= 1")
    require(maxBasketSize >= 2, "maxBasketSize must be >= 2 (pairs need 2)")
    val bi = df
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
    val sizes = bi.groupBy(col("__b")).agg(count(lit(1)).as("__sz"))
    val kept = bi.join(sizes.filter(col("__sz") <= maxBasketSize), Seq("__b"))
      .select(col("__b"), col("__i"))
    val nBaskets = kept.select(col("__b")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val itemCounts = kept.groupBy(col("__i"))
      .agg(count(lit(1)).as("__ci"))
    val pairCounts = kept.select(col("__b"), col("__i").as("item_a"))
      .join(kept.select(col("__b"), col("__i").as("item_b")), Seq("__b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("pair_baskets"))
      .filter(col("pair_baskets") >= minPairCount)
    pairCounts
      .join(itemCounts.select(col("__i").as("item_a"), col("__ci").as("item_a_baskets")),
        Seq("item_a"))
      .join(itemCounts.select(col("__i").as("item_b"), col("__ci").as("item_b_baskets")),
        Seq("item_b"))
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("pair_baskets"),
        col("item_a_baskets"), col("item_b_baskets"), col("n_baskets"),
        round((col("pair_baskets") * col("n_baskets") * lit(1000000.0)) /
          (col("item_a_baskets") * col("item_b_baskets"))).cast("long")
          .as("lift_micro"),
        round((col("pair_baskets") * lit(1000000.0)) /
          (col("item_a_baskets") + col("item_b_baskets") - col("pair_baskets")))
          .cast("long").as("jaccard_micro"))
  }
}
