package graft.queries

import graft.Frames
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dedup cluster resolution (SURVEY §2.3 Tier C): near-dup pair lists
  * (q24–q26) name EDGES, but a dedup policy needs COMPONENTS — "keep one
  * doc per duplicate cluster" requires resolving transitive chains
  * (a~b, b~c ⇒ {a,b,c} is one cluster even if a and c never paired).
  *
  * q59 resolves q26's verified Jaccard pairs into connected components
  * by iterative min-label propagation: every clustered doc converges to
  * the minimum doc_id reachable from it, which is a unique fixed point —
  * deterministic regardless of execution order, so the result is fully
  * oracle-checkable (DuckDB computes the same fixed point via a
  * recursive transitive-closure CTE).
  */
object GraphOps {

  /** Iteration guard: near-dup clusters are shallow (duplicate families,
    * not long chains), so propagation converges in a handful of rounds;
    * the cap turns a surprise pathological graph into a loud error
    * instead of an unbounded driver loop. */
  private val MaxIters = 25

  /** Row cap under which an iterative loop's per-round side frame gets
    * the explicit broadcast hint (~4M rows ≈ 100 MB packed — inside the
    * driver/executor broadcast comfort zone). The hint matters because
    * checkpointed RDD frames carry no stats, so without it every round
    * plans a sort-merge join of the edge frame against a node-sized
    * dimension; but UNCONDITIONAL broadcast is the opposite failure at
    * the 100 TB design point — a billion-node label/rank/degree frame
    * broadcast every round kills the driver (the round-10 trussPeel
    * lesson, generalized here per the r10 verdict). Every caller
    * already holds a row count the loop computed for free (node census,
    * fixpoint victim count), so the switch costs nothing: past the cap
    * the same join runs as a shuffle — correct at any scale, merely no
    * longer hinted. */
  private[graft] val BroadcastRowCap = 4000000L

  /** Broadcast hint gated on a driver-known row count — see
    * [[BroadcastRowCap]]. */
  private[graft] def maybeBroadcast(rows: Long): DataFrame => DataFrame =
    if (rows <= BroadcastRowCap) broadcast else identity

  /** Minimum reachable label per node of an undirected edge list.
    * One round = one shuffle-join of labels onto edges + one min-agg;
    * rounds needed = component diameter. At 100 TB-scale graphs with
    * long chains you'd switch to the alternating large-star/small-star
    * algorithm (Kiveris et al. 2014, "Connected Components in MapReduce
    * and Beyond" — O(log²​ n) rounds) or pointer doubling; for dedup
    * families (diameter ≲ 5) plain propagation does fewer total shuffles.
    * Each round's result is localCheckpoint'ed so BOTH the execution
    * lineage AND the logical plan stay one round deep: persist alone
    * truncates execution but the analyzer/optimizer still re-walk the
    * whole accumulated tree every round — each round references its
    * parent twice (propagation + union), so an unpersisted-plan loop
    * pays 2^rounds optimizer work (the q477 lesson; on the dense
    * co-purchase projection rounds 4–5 took 11 s and 34 s of pure
    * planning before the truncation). The labels belong to `f`. */
  private[graft] def minLabel(f: Frames, edges: DataFrame): DataFrame = {
    // The propagation loop runs join+agg PER ROUND over a pair-list-
    // sized frame (thousands of rows at test scale; pair lists are
    // always corpus-sparse). At 32 shuffle partitions each round pays
    // 32 empty-partition task overheads × 2 shuffles; sizing the
    // rounds' shuffles to the frame (8) halves the loop's wall clock
    // without touching semantics. A 100 TB pair list sizes this UP —
    // the knob is frame volume, the same rule as streaming state
    // partitions (StreamHarness.withStreamingPartitions).
    graft.Confs.withShufflePartitions(edges.sparkSession, 8)(minLabelLoop(f, edges))
  }

  private def minLabelLoop(f: Frames, edges: DataFrame): DataFrame = {
    val ss = edges.sparkSession
    import ss.implicits._
    // Symmetric closure once; scanned every round → persist.
    val sym = f.persist(edges.select($"src", $"dst")
      .unionAll(edges.select($"dst".as("src"), $"src".as("dst"))))
    // Lazy checkpoints: each round already runs exactly one action (the
    // labelSum probe), which materializes the round's RDD — an eager
    // checkpoint would pay a SECOND action per round just to force what
    // the probe forces anyway. The logical-plan truncation (the point)
    // happens at wrap time either way.
    var labels = f.checkpoint(sym.select($"src".as("node")).distinct()
      .withColumn("label", $"node"), eager = false)
    // Convergence probe: per-node labels only ever DECREASE (min-merge),
    // so Σlabel strictly decreases until the fixed point — comparing two
    // longs replaces a per-round anti-join, and the agg is a partial
    // (map-side) aggregate with no shuffle of its own. sum() over an
    // EMPTY label set is null (an edgeless graph — a corpus with no
    // near-dup pairs is normal, not an error), hence the 0L default.
    def labelSum(df: DataFrame): Long = {
      val cell = df.agg(sum($"label")).head
      if (cell.isNullAt(0)) 0L else cell.getLong(0)
    }
    var prevSum = labelSum(labels)
    // Node census for the broadcast gate below — replaces the old
    // isEmpty probe (count == 0 IS "nothing to propagate"), so the loop
    // still pays exactly one setup action.
    val nNodes = labels.count()
    val mb = maybeBroadcast(nNodes)
    var converged = nNodes == 0L
    var iters = 0
    // An iteration-cap (or any mid-round) failure leaves the round's
    // frames to `f`, which releases them when its scope exits.
    while (!converged) {
      iters += 1
      require(iters <= MaxIters,
        s"connected components did not converge in $MaxIters rounds")
      // Labels flowing across edges, min-merged with each node's own.
      // The label frame is NODE-sized (dedup-cluster members / the
      // projected dimension — MBs even at 100 TB corpora) and a
      // checkpointed RDD carries no stats, so without the hint every
      // round plans a sort-merge join of the edge frame against a
      // dimension — hint it, gated on the node census (maybeBroadcast:
      // a component graph past the cap shuffles instead).
      val prop = sym.join(mb(labels), $"dst" === $"node")
        .select($"src".as("node"), $"label")
      val next = f.checkpoint(labels.unionAll(prop)
        .groupBy($"node").agg(min($"label").as("label")), eager = false)
      val curSum = labelSum(next) // materializes next: labels is dead
      f.release(labels)
      labels = next
      converged = curSum == prevSum
      prevSum = curSum
    }
    f.release(sym)
    labels
  }

  /** q59 — near-dup cluster resolution: q26's verified pairs → connected
    * components → one row per clustered doc with its cluster id (the
    * component's min doc_id — the canonical "keep" representative under
    * a keep-first policy) and the cluster size. Singleton docs (no
    * near-dup pair) are by design absent: at 100 TB the pair list is
    * millions of rows where the corpus is billions, and clustering only
    * the paired minority keeps every shuffle pair-list-sized. */
  val q59 = QuerySpec(
    "q59_dedup_cluster_resolve",
    (s, d) => Frames.scoped { f =>
      import s.implicits._
      val pairs = NearDup.q26.run(s, d)
        .select($"doc_a".as("src"), $"doc_b".as("dst"))
      val labels = minLabel(f, pairs)
      val sizes = labels.groupBy($"label").agg(count(lit(1)).as("cluster_size"))
      // Eager: the result outlives the scope that frees the labels.
      Eager(labels.join(sizes, "label")
        .select($"node".as("doc_id"), $"label".as("cluster_id"),
          $"cluster_size".cast("int").as("cluster_size"))
        .orderBy($"doc_id"))
    },
    // Assembled via mkString, not stripMargin: the embedded q26 SQL
    // contains || concat operators (stripMargin corrupts lines that
    // START with ||; mkString sidesteps the class of bug entirely).
    NearDup.q26.oracle.map(jacSql => Seq(
      s"WITH RECURSIVE cand AS (${jacSql.replace("ORDER BY doc_a, doc_b", "")}),",
      "edges AS (SELECT doc_a AS a, doc_b AS b FROM cand",
      "          UNION ALL SELECT doc_b, doc_a FROM cand),",
      "reach(src, node) AS (",
      "  SELECT DISTINCT a, a FROM edges",
      "  UNION",
      "  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a),",
      "lbl AS (SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src),",
      "sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY cluster_id)",
      "SELECT l.doc_id, l.cluster_id, CAST(sz.cluster_size AS INT) AS cluster_size",
      "FROM lbl l JOIN sz USING (cluster_id)",
      "ORDER BY doc_id").mkString("\n")),
  )

  /** q94 — semantic dedup with a keep policy (the SemDeDup shape:
    * embedding-similarity clusters, one survivor each): q27's cosine
    * pairs resolve to connected components (minLabel), and within each
    * cluster the representative is the HIGHEST-ENERGY member (max
    * squared L2 norm, ties to min vec_id) — "keep the most informative
    * copy", the embedding-space analogue of q57's longest-copy policy.
    * Norms are sequential-fold doubles computed identically on both
    * engines, so the argmax never flakes. At 100 TB the pairs come from
    * q24/q28 blocks, not the all-pairs join; everything downstream of
    * the pair list is pair-count-sized (labels, sizes, one window over
    * clusters). */
  val q94 = QuerySpec(
    "q94_semantic_dedup_keep",
    (s, d) => Frames.scoped { f =>
      import s.implicits._
      import graft.functions.VectorOps.{asDouble, normSq}
      val pairs = NearDup.q27.run(s, d)
        .select($"vec_a".as("src"), $"vec_b".as("dst"))
      val labels = minLabel(f, pairs)
      val sizes = labels.groupBy($"label").agg(count(lit(1)).as("cluster_size"))
      val energy = graft.Tables.embeddings(s, d)
        .select($"vec_id", normSq(asDouble($"embedding")).as("energy"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"label").orderBy($"energy".desc, $"node")
      Eager(labels.join(sizes, "label")
        .join(energy, $"node" === $"vec_id")
        .withColumn("rk", row_number().over(w))
        .select($"node".as("vec_id"), $"label".as("cluster_id"),
          $"cluster_size".cast("int").as("cluster_size"),
          ($"rk" === 1).as("kept"))
        .orderBy($"vec_id"))
    },
    NearDup.q27.oracle.map(cosSql => Seq(
      s"WITH RECURSIVE cand AS (${cosSql.replace("ORDER BY vec_a, vec_b", "")}),",
      "edges AS (SELECT vec_a AS a, vec_b AS b FROM cand",
      "          UNION ALL SELECT vec_b, vec_a FROM cand),",
      "reach(src, node) AS (",
      "  SELECT DISTINCT a, a FROM edges",
      "  UNION",
      "  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a),",
      "lbl AS (SELECT src AS vec_id, min(node) AS cluster_id FROM reach GROUP BY src),",
      "sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY cluster_id),",
      s"en AS (SELECT vec_id, ${Det.sqlNormSq("CAST(embedding AS DOUBLE[])")} AS energy FROM embeddings),",
      "rk AS (SELECT l.vec_id, l.cluster_id, sz.cluster_size, ",
      "  row_number() OVER (PARTITION BY l.cluster_id ORDER BY en.energy DESC, l.vec_id) AS r",
      "  FROM lbl l JOIN sz USING (cluster_id) JOIN en USING (vec_id))",
      "SELECT vec_id, cluster_id, CAST(cluster_size AS INT) AS cluster_size,",
      "  (r = 1) AS kept",
      "FROM rk ORDER BY vec_id").mkString("\n")),
  )

  /** PageRank sweep count: fixed (not convergence-probed) so the DuckDB
    * oracle can unroll the same number of iterations. */
  private val PrIters = 3

  /** Fixed-point PageRank mass: 10¹⁵ integer units spread over the
    * graph. 85·10¹⁵ stays far under Long.MaxValue, and unit-level
    * truncation error after 3 sweeps is ≲ deg·iters units ≈ 1e-12 of
    * total mass. */
  private val PrUnits = 1000000000000000L

  /** q126 — PageRank over the customer↔supplier trade graph (edges =
    * distinct (customer, supplier) pairs through orders+lineitem, made
    * symmetric so the chain has no dangling sinks): `PrIters` damped
    * sweeps, PR₀ = 1/N, PRₖ₊₁(v) = 0.15/N + 0.85·Σᵤ→ᵥ PRₖ(u)/deg(u).
    *
    * Determinism across engines: rank is FIXED-POINT — integer units of
    * 10⁻¹⁵ of the total mass ([[PrUnits]]), every step a BIGINT
    * operation (`DIV`, `*`, `sum`) with identical truncation semantics
    * in Spark and DuckDB, so results are exact integers and the oracle
    * hash-match is unconditional. (The float formulation is NOT
    * portable: casting a double to a high-scale DECIMAL rounds the
    * shortest decimal representation in Spark but the exact binary
    * expansion in DuckDB — 1-ulp divergence at scale ≥ ~17. Det.dsum's
    * low-scale casts never see those digits; rank values do.)
    *
    * Scale: the (edge, degree) frame is built ONCE, hash-partitioned on
    * dst ONCE, and persisted — each sweep then broadcasts the
    * node-count-sized rank frame onto it and partial-aggregates
    * contributions in place, so a sweep moves NO edge bytes at all
    * (the only exchange is the node-sized rank update). Rank frames
    * persist one sweep deep (minLabel's loop discipline). The broadcast
    * holds while |nodes| ≪ |edges| — the usual PageRank regime; for a
    * node set too big to broadcast, co-partition ranks on src and
    * accept the classic one-shuffle-per-sweep, plus periodic
    * checkpointing to truncate lineage. */
  val q126 = QuerySpec(
    "q126_pagerank",
    (s, d) => Frames.scoped { f =>
      import s.implicits._
      val li = graft.Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey")
      val ord = graft.Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
      // r12 (guide §2.3 narrower types): the sweeps used to run on the
      // CONCATENATED STRING node ids ('c:123' / 's:45') — every
      // distinct, join, and contribution aggregate keyed and hashed on
      // strings for 3 rounds. The bipartite id space is two disjoint
      // long ranges, so customers ride 2·key and suppliers 2·key+1
      // (bijective — the distinct set, degrees, and every pr_units
      // value are unchanged integers), and the strings are RENDERED
      // once at the readout, before the final orderBy on the decoded
      // column (same output order as always).
      val pairs = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select(($"o_custkey" * 2L).as("cust"),
          ($"l_suppkey" * 2L + 1L).as("supp"))
        .distinct()
      val edges = f.persist(pairs.select($"cust".as("src"), $"supp".as("dst"))
        .unionAll(pairs.select($"supp".as("src"), $"cust".as("dst"))))
      graft.Confs.withShufflePartitions(s, 16) {
        val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
        // One edge frame with degree attached, laid out by dst so every
        // sweep's contribution aggregate reuses this partitioning.
        val edgesDeg = f.persist(edges.join(deg, "src").repartition(16, $"dst"))
        val nodes = f.persist(edges.select($"src".as("node")).distinct())
        val n = nodes.count()
        // Rank-frame hint gated on the node census already in hand —
        // maybeBroadcast's cap story (a billion-node rank frame must
        // shuffle, not flood the driver every sweep).
        val mb = maybeBroadcast(n)
        val teleportUnits = (15L * (PrUnits / n)) / 100L
        // Rank frames persist LAZILY: with a fixed sweep count the one
        // final collect materializes each sweep exactly once through its
        // persisted parent, so no per-sweep count() jobs are needed —
        // each persist node still caps lineage at one sweep. (A
        // convergence-probed loop would need the eager count back.)
        val sweeps = Seq.iterate(
          f.persist(nodes.withColumn("pr_units", lit(PrUnits / n))),
          PrIters + 1) { pr =>
          val contribs = edgesDeg.join(mb(pr), $"src" === $"node")
            .select($"dst", expr("pr_units DIV deg").as("c"))
            .groupBy($"dst").agg(sum($"c").as("csum"))
          f.persist(nodes.join(contribs, $"node" === $"dst", "left")
            .select($"node",
              (lit(teleportUnits) +
                expr("(85 * coalesce(csum, 0L)) DIV 100")).as("pr_units")))
        }
        Eager(sweeps.last
          .select(concat(
              when(pmod($"node", lit(2)) === 0, lit("c:")).otherwise(lit("s:")),
              expr("node div 2").cast("string")).as("node"),
            $"pr_units")
          .orderBy($"node"))
      }
    },
    Some(Seq(
      "WITH pairs AS (SELECT DISTINCT 'c:'||o_custkey AS cust, 's:'||l_suppkey AS supp",
      "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),",
      "edges AS (SELECT cust AS src, supp AS dst FROM pairs",
      "          UNION ALL SELECT supp, cust FROM pairs),",
      "nodes AS (SELECT DISTINCT src AS node FROM edges),",
      "nn AS (SELECT count(*) AS n FROM nodes),",
      "tele AS (SELECT (15 * (1000000000000000 // n)) // 100 AS t FROM nn),",
      "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),",
      "pr0 AS (SELECT node, (SELECT 1000000000000000 // n FROM nn) AS pr_units FROM nodes),",
      "c1 AS (SELECT e.dst AS node, sum(p.pr_units // d.deg) AS csum",
      "  FROM pr0 p JOIN deg d ON p.node = d.src JOIN edges e ON p.node = e.src GROUP BY e.dst),",
      "pr1 AS (SELECT nd.node, (SELECT t FROM tele)",
      "  + (85 * coalesce(c.csum, 0)) // 100 AS pr_units",
      "  FROM nodes nd LEFT JOIN c1 c ON nd.node = c.node),",
      "c2 AS (SELECT e.dst AS node, sum(p.pr_units // d.deg) AS csum",
      "  FROM pr1 p JOIN deg d ON p.node = d.src JOIN edges e ON p.node = e.src GROUP BY e.dst),",
      "pr2 AS (SELECT nd.node, (SELECT t FROM tele)",
      "  + (85 * coalesce(c.csum, 0)) // 100 AS pr_units",
      "  FROM nodes nd LEFT JOIN c2 c ON nd.node = c.node),",
      "c3 AS (SELECT e.dst AS node, sum(p.pr_units // d.deg) AS csum",
      "  FROM pr2 p JOIN deg d ON p.node = d.src JOIN edges e ON p.node = e.src GROUP BY e.dst),",
      "pr3 AS (SELECT nd.node, (SELECT t FROM tele)",
      "  + (85 * coalesce(c.csum, 0)) // 100 AS pr_units",
      "  FROM nodes nd LEFT JOIN c3 c ON nd.node = c.node)",
      "SELECT node, CAST(pr_units AS BIGINT) AS pr_units FROM pr3 ORDER BY node").mkString("\n")),
  )

  /** q148 — triangle census over the co-purchase graph: parts of one
    * brand are nodes, an edge connects two parts appearing in the same
    * order, and the count of edge-triangles measures how clique-ish
    * co-purchasing is (the classic graph-analytics primitive behind
    * community detection and recommendation neighborhoods). Plan shape:
    * per-order part pairs (u < v, deduped) → wedges by joining edges on
    * the shared middle vertex (u < v < w holds by construction, so each
    * triangle is generated exactly once) → a LEFT SEMI probe of the
    * closing edge. Scale: the brand filter bounds degree the way any
    * real deployment caps hub vertices; edges partition by vertex for
    * the wedge join and by (u,w) pair for the closing probe — both plain
    * equi-shuffles, no cross product anywhere. The edge list persists:
    * it feeds the node census, the wedge join (twice), and the semi
    * probe, and recomputing the order-pair self-join per consumer is
    * the q28 rescan anti-pattern. */
  val q148 = QuerySpec(
    "q148_graph_triangles",
    (s, d) => Frames.scoped { f =>
      import s.implicits._
      val li = graft.Tables.lineitem(s, d)
        .join(broadcast(graft.Tables.part(s, d)
          .filter($"p_brand" === "Brand#4").select($"p_partkey")),
          $"l_partkey" === $"p_partkey")
        .select($"l_orderkey", $"l_partkey").distinct()
      val e = f.persist(li.as("a").join(li.as("b"),
          $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
        .select($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
        .distinct())
      val nodes = e.select($"u".as("p")).union(e.select($"v")).distinct()
      val tri = e.as("e1").join(e.as("e2"), $"e1.v" === $"e2.u")
        .select($"e1.u".as("wu"), $"e2.v".as("ww"))
        .join(e.as("e3"), $"wu" === $"e3.u" && $"ww" === $"e3.v", "left_semi")
      Eager(nodes.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .crossJoin(tri.agg(count(lit(1)).as("n_triangles"))))
    },
    Some("""WITH li AS (
           |  SELECT DISTINCT l_orderkey, l_partkey
           |  FROM lineitem JOIN part ON l_partkey = p_partkey
           |  WHERE p_brand = 'Brand#4'),
           |e AS (
           |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
           |    AND a.l_partkey < b.l_partkey),
           |nodes AS (SELECT u AS p FROM e UNION SELECT v FROM e),
           |tri AS (
           |  SELECT e1.u, e2.v AS w FROM e e1 JOIN e e2 ON e1.v = e2.u
           |  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.u = e1.u AND e3.v = e2.v))
           |SELECT (SELECT count(*) FROM nodes) AS n_nodes,
           |  (SELECT count(*) FROM e) AS n_edges,
           |  (SELECT count(*) FROM tri) AS n_triangles""".stripMargin),
  )

  /** q226 — BFS shortest-path distances by frontier expansion (the
    * fourth graph algorithm family after components/PageRank/triangles):
    * supplier-to-supplier distances through shared orders (bipartite
    * two-hop = distance 2) from a single source, four sweeps (≤ 8).
    * Each sweep is two key-sized equi-joins (frontier⋈edges on s,
    * result⋈edges on o) plus an anti join against the visited set —
    * rows moved per round are O(frontier·degree), never O(V·E), which
    * is THE property that lets BFS run on a 100 TB edge list; the edge
    * frame is computed once, persisted, and reused by all sweeps, and
    * the frontier/visited sides of every join are BROADCAST — the edge
    * list never re-shuffles across sweeps (broadcast is right while
    * frontier ≪ edges, the BFS norm; a shuffle join is the documented
    * fallback for adversarial frontier blow-ups). Shuffle partitions
    * sized to the loop's frame sizes (q59's discipline). First-visit
    * distance is minimal by BFS invariant, so the result is the unique
    * fixed point the oracle's recursive CTE computes. */
  val q226 = QuerySpec(
    "q226_bfs_distances",
    (s, d) => Frames.scoped { f =>
      import s.implicits._
      val e = f.persist(graft.Tables.lineitem(s, d)
        .filter($"l_orderkey" % 199 === 0)
        .select($"l_orderkey".as("o"), $"l_suppkey".as("sk"))
        .distinct())
      graft.Confs.withShufflePartitions(s, 8) {
        // Each round's frontier is persisted once; `best` stays a LAZY
        // union of those cached pieces — no re-materialization per
        // round, and the anti join still reads only cached partitions.
        val seed = f.persist(Seq((1L, 0L)).toDF("node", "dist"))
        var rounds = List(seed)
        var frontier = seed
        for (i <- 1 to 4) {
          val best = rounds.reduce(_ unionByName _)
          val hitOrders = e.join(broadcast(frontier), $"node" === $"sk")
            .select($"o").distinct()
          val nxt = f.persist(e.join(broadcast(hitOrders), Seq("o"))
            .select($"sk".as("node")).distinct()
            .join(broadcast(best), Seq("node"), "left_anti")
            .select($"node", lit(2L * i).as("dist")))
          rounds = nxt :: rounds
          frontier = nxt
        }
        Eager(rounds.reduce(_ unionByName _).groupBy($"dist")
          .agg(count(lit(1)).as("n_nodes"), sum($"node").as("node_checksum"))
          .orderBy($"dist"))
      }
    },
    Some("""WITH RECURSIVE e AS (
           |  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
           |  WHERE l_orderkey % 199 = 0),
           |bfs(node, dist) AS (
           |  SELECT CAST(1 AS BIGINT), 0
           |  UNION
           |  SELECT e2.s, bfs.dist + 2
           |  FROM bfs, e e1, e e2
           |  WHERE e1.s = bfs.node AND e2.o = e1.o AND bfs.dist < 8),
           |best AS (SELECT node, min(dist) AS dist FROM bfs GROUP BY node)
           |SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_nodes,
           |  CAST(sum(node) AS BIGINT) AS node_checksum
           |FROM best GROUP BY dist ORDER BY dist""".stripMargin),
  )

  /** q304 — bounded-hop WEIGHTED shortest paths (synchronous
    * Bellman-Ford, 4 relaxation rounds), the weighted companion to
    * q226's BFS: distance now accumulates per-edge costs, so the
    * cheapest path can be longer in hops than the hop-minimal one —
    * min-dist and BFS genuinely differ. Graph: suppliers co-occurring
    * on an order (199-sampled, q226's subgraph), projected ONCE into a
    * weighted edge list with w(s1,s2) = min over shared orders of
    * (o mod 20)+1 — the min-agg makes the multigraph a simple graph
    * deterministically. Round k relaxes against the FULL best-so-far
    * frame, so dist_k(v) = exact min cost over ≤k-edge paths — the
    * unique fixed point the oracle's path-enumerating recursive CTE
    * also computes. Scale: per round one broadcast of the node-sized
    * dist frame onto the persisted edge list + a min-agg; edges never
    * re-shuffle; rows moved are O(frontier·degree), and the hop bound
    * caps the loop exactly like a real feature-pipeline "within 4
    * handoffs" constraint. */
  val q304 = QuerySpec(
    "q304_bellman_ford_khop",
    (s, d) => Frames.scoped { f =>
      import s.implicits._
      val li = graft.Tables.lineitem(s, d)
        .filter($"l_orderkey" % 199 === 0)
        .select($"l_orderkey".as("o"), $"l_suppkey".as("sk"))
        .distinct()
      val edges = f.persist(li.as("a").join(li.as("b"),
          $"a.o" === $"b.o" && $"a.sk" =!= $"b.sk")
        .select($"a.sk".as("u"), $"b.sk".as("v"), (($"a.o" % 20L) + 1L).as("w0"))
        .groupBy($"u", $"v").agg(min($"w0").as("w")))
      graft.Confs.withShufflePartitions(s, 8) {
        var best = f.persist(Seq((1L, 0L)).toDF("node", "dist"))
        var prev: DataFrame = null
        for (_ <- 1 to 4) {
          val relaxed = f.persist(edges.join(broadcast(best), $"u" === $"node")
            .select($"v".as("node"), ($"dist" + $"w").as("dist"))
            .unionByName(best)
            .groupBy($"node").agg(min($"dist").as("dist")))
          relaxed.count() // materialize before dropping the parent
          if (prev != null) f.release(prev)
          prev = best
          best = relaxed
        }
        Eager(best.orderBy($"node").select($"node", $"dist"))
      }
    },
    Some("""WITH RECURSIVE li AS (
           |  SELECT DISTINCT l_orderkey AS o, l_suppkey AS sk FROM lineitem
           |  WHERE l_orderkey % 199 = 0),
           |e AS (
           |  SELECT a.sk AS u, b.sk AS v, min((a.o % 20) + 1) AS w
           |  FROM li a JOIN li b ON a.o = b.o AND a.sk <> b.sk
           |  GROUP BY a.sk, b.sk),
           |walk(node, dist, hops) AS (
           |  SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT), 0
           |  UNION
           |  SELECT e.v, walk.dist + e.w, walk.hops + 1
           |  FROM walk JOIN e ON e.u = walk.node
           |  WHERE walk.hops < 4)
           |SELECT node, CAST(min(dist) AS BIGINT) AS dist
           |FROM walk GROUP BY node ORDER BY node""".stripMargin),
  )

  /** q310 — k-core peeling (k=3, 6 synchronous rounds): the density
    * filter run before any expensive community/embedding pass — nodes
    * that can't sustain 3 surviving neighbors carry no cluster signal
    * and feed noise into everything downstream. The op is DEFINED as 6
    * rounds (each round recounts degrees over the surviving edge set
    * and drops deg < 3 nodes), so both engines compute the identical
    * intermediate trajectory whether or not the peel has converged —
    * per-round survivor counts and removal counts are the output, and
    * convergence shows up AS data (a 0-removal round). Same co-order
    * supplier graph as q304. Scale: the round state is the node-sized
    * DEGREE frame, not a filtered edge copy — round r+1's degrees are
    * one join of the persisted edge list against round r's alive set
    * (v-side message count) pre-filtered to alive u's; rounds move
    * O(V) rows, never O(V·E), and a converged peel stops running jobs
    * — a_r ⊆ a_{r-1} makes count-equality set-equality, so the
    * remaining trajectory rows are emitted driver-side. (History: the
    * first formulation spent 12 actions + 12 broadcast builds on a
    * tiny graph — 36 s of pure job overhead at sf0.1; the degree-state
    * rewrite plus the short-circuit brought it to ~3 jobs.) */
  val q310 = QuerySpec(
    "q310_kcore_peel",
    (s, d) => Frames.scoped { f =>
      import s.implicits._
      val li = graft.Tables.lineitem(s, d)
        .filter($"l_orderkey" % 199 === 0)
        .select($"l_orderkey".as("o"), $"l_suppkey".as("sk"))
        .distinct()
      val edges0 = f.persist(li.as("a").join(li.as("b"),
          $"a.o" === $"b.o" && $"a.sk" =!= $"b.sk")
        .select($"a.sk".as("u"), $"b.sk".as("v"))
        .distinct())
      graft.Confs.withShufflePartitions(s, 8) {
        // Round-r state: the UNFILTERED degree frame among the round's
        // alive set (deg_r(u) over a_{r-1}×a_{r-1} edges). |a_r| is one
        // filtered count of that frame; the next state is one edge join
        // against the survivors. One count action per round total.
        var deg = f.persist(edges0.groupBy($"u").agg(count(lit(1)).as("deg")))
        var nBefore = deg.count() // |a0| = every node with an edge
        val stats = Seq.newBuilder[(Int, Long, Long)]
        var round = 1
        var stable = false
        while (round <= 6 && !stable) {
          val nAlive = deg.filter($"deg" >= 3).count() // |a_round|
          stats += ((round, nBefore, nBefore - nAlive))
          // Convergence short-circuit (exact): a_r ⊆ a_{r-1}, so equal
          // COUNTS mean equal SETS — every later round is identical and
          // its trajectory rows are emitted without running a job.
          stable = nAlive == nBefore
          nBefore = nAlive
          if (stable) {
            (round + 1 to 6).foreach(r => stats += ((r, nAlive, 0L)))
          } else if (round < 6) {
            val alive = deg.filter($"deg" >= 3).select($"u")
            val next = f.persist(edges0
              .join(alive.withColumnRenamed("u", "av"), $"v" === $"av")
              .join(alive, Seq("u"), "left_semi")
              .groupBy($"u").agg(count(lit(1)).as("deg")))
            next.count() // materialize before dropping the parent
            f.release(deg)
            deg = next
          }
          round += 1
        }
        stats.result().toDF("round", "n_before", "n_removed")
          .orderBy($"round")
      }
    },
    Some("""WITH li AS (
           |  SELECT DISTINCT l_orderkey AS o, l_suppkey AS sk FROM lineitem
           |  WHERE l_orderkey % 199 = 0),
           |e AS (
           |  SELECT DISTINCT a.sk AS u, b.sk AS v
           |  FROM li a JOIN li b ON a.o = b.o AND a.sk <> b.sk),
           |a0 AS (SELECT DISTINCT u AS node FROM e),
           |d1 AS (SELECT u, count(*) AS deg FROM e
           |  WHERE u IN (SELECT node FROM a0) AND v IN (SELECT node FROM a0)
           |  GROUP BY u),
           |a1 AS (SELECT u AS node FROM d1 WHERE deg >= 3),
           |d2 AS (SELECT u, count(*) AS deg FROM e
           |  WHERE u IN (SELECT node FROM a1) AND v IN (SELECT node FROM a1)
           |  GROUP BY u),
           |a2 AS (SELECT u AS node FROM d2 WHERE deg >= 3),
           |d3 AS (SELECT u, count(*) AS deg FROM e
           |  WHERE u IN (SELECT node FROM a2) AND v IN (SELECT node FROM a2)
           |  GROUP BY u),
           |a3 AS (SELECT u AS node FROM d3 WHERE deg >= 3),
           |d4 AS (SELECT u, count(*) AS deg FROM e
           |  WHERE u IN (SELECT node FROM a3) AND v IN (SELECT node FROM a3)
           |  GROUP BY u),
           |a4 AS (SELECT u AS node FROM d4 WHERE deg >= 3),
           |d5 AS (SELECT u, count(*) AS deg FROM e
           |  WHERE u IN (SELECT node FROM a4) AND v IN (SELECT node FROM a4)
           |  GROUP BY u),
           |a5 AS (SELECT u AS node FROM d5 WHERE deg >= 3),
           |d6 AS (SELECT u, count(*) AS deg FROM e
           |  WHERE u IN (SELECT node FROM a5) AND v IN (SELECT node FROM a5)
           |  GROUP BY u),
           |a6 AS (SELECT u AS node FROM d6 WHERE deg >= 3)
           |SELECT * FROM (
           |  SELECT 1 AS round, (SELECT count(*) FROM a0) AS n_before,
           |    (SELECT count(*) FROM a0) - (SELECT count(*) FROM a1) AS n_removed
           |  UNION ALL SELECT 2, (SELECT count(*) FROM a1),
           |    (SELECT count(*) FROM a1) - (SELECT count(*) FROM a2)
           |  UNION ALL SELECT 3, (SELECT count(*) FROM a2),
           |    (SELECT count(*) FROM a2) - (SELECT count(*) FROM a3)
           |  UNION ALL SELECT 4, (SELECT count(*) FROM a3),
           |    (SELECT count(*) FROM a3) - (SELECT count(*) FROM a4)
           |  UNION ALL SELECT 5, (SELECT count(*) FROM a4),
           |    (SELECT count(*) FROM a4) - (SELECT count(*) FROM a5)
           |  UNION ALL SELECT 6, (SELECT count(*) FROM a5),
           |    (SELECT count(*) FROM a5) - (SELECT count(*) FROM a6))
           |ORDER BY round""".stripMargin),
  )

  /** q378 — PERSONALIZED PageRank from a seed set (q126's retrieval
    * twin): same trade graph, same damped integer fixed-point, but the
    * teleport mass returns to the 10 seed customers instead of
    * everywhere — the result ranks the graph BY PROXIMITY TO THE SEEDS
    * (the "customers like these buy from…" recommendation primitive).
    * Rank starts as the uniform seed distribution and every sweep adds
    * the seed-only teleport, so non-seed mass exists purely through
    * edge propagation. Same scale shape as q126: the edge frame is
    * built and dst-partitioned once, sweeps broadcast only the
    * node-sized rank frame, and all arithmetic is BIGINT units of
    * 10⁻¹⁵ — bit-identical on both engines. Output: top-20 nodes by
    * personalized rank (pr desc, node tiebreak). */
  val q378 = QuerySpec(
    "q378_personalized_pagerank",
    (s, d) => Frames.scoped { f =>
      import s.implicits._
      val li = graft.Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey")
      val ord = graft.Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
      // r12: same long-surrogate keying as q126 (2·custkey / 2·suppkey
      // + 1) — the walk's joins and aggregates never touch a string;
      // the seed set 'c:1'..'c:10' is the even ids 2..20.
      val pairs = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select(($"o_custkey" * 2L).as("cust"),
          ($"l_suppkey" * 2L + 1L).as("supp"))
        .distinct()
      val edges = f.persist(pairs.select($"cust".as("src"), $"supp".as("dst"))
        .unionAll(pairs.select($"supp".as("src"), $"cust".as("dst"))))
      graft.Confs.withShufflePartitions(s, 16) {
        val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
        val edgesDeg = f.persist(edges.join(deg, "src").repartition(16, $"dst"))
        val seedCol = $"node".isin((1 to 10).map(i => 2L * i): _*)
        val nodes = f.persist(edges.select($"src".as("node")).distinct()
          .withColumn("is_seed", seedCol))
        val nSeeds = nodes.filter($"is_seed").count()
        // Same gated rank-frame hint as q126 — the node frame is
        // persisted, so this census is a cheap second pass over it.
        val mb = maybeBroadcast(nodes.count())
        val seedShare = PrUnits / nSeeds
        val teleportUnits = (15L * seedShare) / 100L
        val sweeps = Seq.iterate(
          f.persist(nodes.withColumn("pr_units",
              when($"is_seed", lit(seedShare)).otherwise(lit(0L)))),
          PrIters + 1) { pr =>
          val contribs = edgesDeg.join(mb(pr), $"src" === $"node")
            .select($"dst", expr("pr_units DIV deg").as("c"))
            .groupBy($"dst").agg(sum($"c").as("csum"))
          f.persist(nodes.join(contribs, $"node" === $"dst", "left")
            .select($"node", $"is_seed",
              (when($"is_seed", lit(teleportUnits)).otherwise(lit(0L)) +
                expr("(85 * coalesce(csum, 0L)) DIV 100")).as("pr_units")))
        }
        Eager(sweeps.last
          .select(concat(
              when(pmod($"node", lit(2)) === 0, lit("c:")).otherwise(lit("s:")),
              expr("node div 2").cast("string")).as("node"),
            $"pr_units")
          .orderBy($"pr_units".desc, $"node").limit(20))
      }
    },
    Some(Seq(
      "WITH pairs AS (SELECT DISTINCT 'c:'||o_custkey AS cust, 's:'||l_suppkey AS supp",
      "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),",
      "edges AS (SELECT cust AS src, supp AS dst FROM pairs",
      "          UNION ALL SELECT supp, cust FROM pairs),",
      "nodes AS (SELECT DISTINCT src AS node FROM edges),",
      "seeds AS (SELECT node FROM nodes WHERE node IN",
      "  ('c:1','c:2','c:3','c:4','c:5','c:6','c:7','c:8','c:9','c:10')),",
      "ns AS (SELECT count(*) AS k FROM seeds),",
      "share AS (SELECT 1000000000000000 // k AS u FROM ns),",
      "tele AS (SELECT (15 * u) // 100 AS t FROM share),",
      "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),",
      "pr0 AS (SELECT nd.node, CASE WHEN s.node IS NOT NULL",
      "    THEN (SELECT u FROM share) ELSE 0 END AS pr_units",
      "  FROM nodes nd LEFT JOIN seeds s ON nd.node = s.node),",
      "c1 AS (SELECT e.dst AS node, sum(p.pr_units // d.deg) AS csum",
      "  FROM pr0 p JOIN deg d ON p.node = d.src JOIN edges e ON p.node = e.src GROUP BY e.dst),",
      "pr1 AS (SELECT nd.node, CASE WHEN s.node IS NOT NULL THEN (SELECT t FROM tele) ELSE 0 END",
      "  + (85 * coalesce(c.csum, 0)) // 100 AS pr_units",
      "  FROM nodes nd LEFT JOIN seeds s ON nd.node = s.node LEFT JOIN c1 c ON nd.node = c.node),",
      "c2 AS (SELECT e.dst AS node, sum(p.pr_units // d.deg) AS csum",
      "  FROM pr1 p JOIN deg d ON p.node = d.src JOIN edges e ON p.node = e.src GROUP BY e.dst),",
      "pr2 AS (SELECT nd.node, CASE WHEN s.node IS NOT NULL THEN (SELECT t FROM tele) ELSE 0 END",
      "  + (85 * coalesce(c.csum, 0)) // 100 AS pr_units",
      "  FROM nodes nd LEFT JOIN seeds s ON nd.node = s.node LEFT JOIN c2 c ON nd.node = c.node),",
      "c3 AS (SELECT e.dst AS node, sum(p.pr_units // d.deg) AS csum",
      "  FROM pr2 p JOIN deg d ON p.node = d.src JOIN edges e ON p.node = e.src GROUP BY e.dst),",
      "pr3 AS (SELECT nd.node, CASE WHEN s.node IS NOT NULL THEN (SELECT t FROM tele) ELSE 0 END",
      "  + (85 * coalesce(c.csum, 0)) // 100 AS pr_units",
      "  FROM nodes nd LEFT JOIN seeds s ON nd.node = s.node LEFT JOIN c3 c ON nd.node = c.node)",
      "SELECT node, CAST(pr_units AS BIGINT) AS pr_units FROM pr3",
      "ORDER BY pr_units DESC, node LIMIT 20").mkString("\n")),
  )

  /** q435 — Newman modularity of the nation partition over the trade
    * graph: are customer–supplier edges assortative by nation, i.e. is
    * "nation" a real community structure or noise? Q = Σ_c [e_c/m −
    * (d_c/2m)²] over the undirected customer⋈supplier edge set (each
    * order line one edge), communities = the endpoint's nation. The
    * per-community readout (internal-edge ppm, degree mass, signed
    * contribution) plus a __total__ row whose contribution IS Q. All
    * exact integers: e_c·10⁶ div m, and the (d_c)²·10⁶ term lifted to
    * DECIMAL(38,0)/HUGEINT before dividing by 4m² (q381's overflow
    * discipline — d² reaches 1.5e20 at sf1). Shape: one lineitem⋈orders
    * fact-fact shuffle, nation keys broadcast in; everything after the
    * edge aggregate is |nations|-sized. */
  val q435 = QuerySpec(
    "q435_nation_modularity",
    (s, d) => {
      import s.implicits._
      val custNat = graft.Tables.customer(s, d)
        .join(broadcast(graft.Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey", $"n_name".as("cn"))
      val suppNat = graft.Tables.supplier(s, d)
        .join(broadcast(graft.Tables.nation(s, d)), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name".as("sn"))
      val edges = graft.Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey")
        .join(graft.Tables.orders(s, d).select($"o_orderkey", $"o_custkey"),
          $"l_orderkey" === $"o_orderkey")
        .join(broadcast(custNat), $"o_custkey" === $"c_custkey")
        .join(broadcast(suppNat), $"l_suppkey" === $"s_suppkey")
        .select($"cn", $"sn")
      val m = edges.agg(count(lit(1)).as("m"))
      // Degree mass per community: each edge adds 1 at each endpoint.
      val deg = edges.select($"cn".as("com"))
        .unionAll(edges.select($"sn".as("com")))
        .groupBy($"com").agg(count(lit(1)).as("d"))
      val internal = edges.filter($"cn" === $"sn")
        .groupBy($"cn".as("com")).agg(count(lit(1)).as("e_in"))
      val per = deg.join(internal, Seq("com"), "left")
        .na.fill(0L, Seq("e_in"))
        .crossJoin(broadcast(m))
        .select($"com", $"e_in", $"d",
          (expr("e_in * 1000000L div m") - expr(
            "CAST(CAST(d AS DECIMAL(38,0)) * d * 1000000 div (CAST(m AS DECIMAL(38,0)) * m * 4) AS BIGINT)"))
            .as("contribution_ppm"))
      per.unionAll(
          per.agg(lit("__total__").as("com"), sum($"e_in").as("e_in"),
            sum($"d").as("d"), sum($"contribution_ppm").as("contribution_ppm")))
        .orderBy($"com")
    },
    Some("""WITH edges AS (
           |  SELECT cn.n_name AS cn, sn.n_name AS sn
           |  FROM lineitem
           |  JOIN orders ON l_orderkey = o_orderkey
           |  JOIN customer ON o_custkey = c_custkey
           |  JOIN nation cn ON c_nationkey = cn.n_nationkey
           |  JOIN supplier ON l_suppkey = s_suppkey
           |  JOIN nation sn ON s_nationkey = sn.n_nationkey),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
           |deg AS (SELECT com, CAST(count(*) AS BIGINT) AS d FROM (
           |    SELECT cn AS com FROM edges UNION ALL SELECT sn FROM edges)
           |  GROUP BY com),
           |intl AS (SELECT cn AS com, CAST(count(*) AS BIGINT) AS e_in
           |  FROM edges WHERE cn = sn GROUP BY cn),
           |per AS (SELECT deg.com, coalesce(intl.e_in, 0) AS e_in, deg.d,
           |    e_in * 1000000 // m
           |      - CAST(CAST(d AS HUGEINT) * d * 1000000 // (CAST(m AS HUGEINT) * m * 4) AS BIGINT)
           |      AS contribution_ppm
           |  FROM deg LEFT JOIN intl USING (com) CROSS JOIN m)
           |SELECT com, CAST(e_in AS BIGINT) AS e_in, d, CAST(contribution_ppm AS BIGINT) AS contribution_ppm FROM per
           |UNION ALL
           |SELECT '__total__', CAST(sum(e_in) AS BIGINT), CAST(sum(d) AS BIGINT),
           |  CAST(sum(contribution_ppm) AS BIGINT) FROM per
           |ORDER BY com""".stripMargin),
  )

  /** q448 — HITS hubs & authorities (Kleinberg) over the bipartite
    * customer–supplier trade graph, two synchronous rounds with
    * MAX-normalization instead of the textbook L2 (divide by the
    * iterate's max, quantized to ppm — a positive rescale preserves
    * every ranking HITS cares about and keeps the whole iteration in
    * exact integers; the q126 fixed-point-PageRank move). h⁰=1 ⇒
    * a¹ ∝ supplier degree; h¹ = Σ a¹ over the customer's suppliers;
    * a² = Σ h¹ — top-10 authority suppliers with their scores. Edges
    * are DISTINCT (cust, supp) pairs (one fact-fact shuffle to build);
    * each round is an edge-sized join against the previous node frame;
    * the 1-row max normalizers broadcast. */
  /** q448's pipeline on an already-persisted edge frame, factored so
    * PlanAuditSpec can pin the shape: every per-round join reads the
    * in-memory edges (one fact-fact shuffle EVER, at build), and every
    * normalizer is a broadcast 1-row frame.
    *
    * r13: each normalization stage references its iterate twice (the
    * main leg and the 1-row max), and with lazy lineage that recompute
    * COMPOUNDS — a2 evaluates h1n twice, each of which evaluates a1n
    * twice, so a1 was being computed 8× per run (measured 75+ cpu-s on
    * a node-sized frame). The three iterates are supplier/customer-
    * sized; they are persisted in the caller's scope `f` (guide §5 —
    * same bytes, the doubling-per-round goes away). */
  private[graft] def hitsAuthorities(f: Frames, edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    // h0 = 1 for every customer => a1(s) = degree(s).
    val a1 = f.persist(edges.groupBy($"supp").agg(count(lit(1)).as("a")))
    val a1n = a1.crossJoin(broadcast(a1.agg(max($"a").as("mx"))))
      .select($"supp", expr("a * 1000000L div mx").as("a_ppm"))
    val h1 = f.persist(edges.join(a1n, "supp")
      .groupBy($"cust").agg(sum($"a_ppm").as("h")))
    val h1n = h1.crossJoin(broadcast(h1.agg(max($"h").as("mx"))))
      .select($"cust", expr("h * 1000000L div mx").as("h_ppm"))
    val a2 = f.persist(edges.join(h1n, "cust")
      .groupBy($"supp").agg(sum($"h_ppm").as("a2")))
    val a2n = a2.crossJoin(broadcast(a2.agg(max($"a2").as("mx"))))
      .select($"supp".as("s_suppkey"),
        expr("a2 * 1000000L div mx").as("authority_ppm"))
    a2n.orderBy($"authority_ppm".desc, $"s_suppkey").limit(10)
  }

  /** DISTINCT (cust, supp) trade edges — the shared bipartite graph of
    * q448/q454 (one fact-fact shuffle to build; callers persist). */
  private[graft] def tradeEdges(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    graft.Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey")
      .join(graft.Tables.orders(s, d).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("cust"), $"l_suppkey".as("supp"))
      .distinct()
  }

  /** [[coPurchaseEdges]] over the trade edges, both persisted in `f` —
    * the input the q476–q506 queries open with. */
  private def persistedCoPurchase(f: Frames, s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    f.persist(coPurchaseEdges(f.persist(tradeEdges(s, d))))

  /** The WEIGHTED projection gw(u, v, sup) — [[basketPairCounts]] at
    * the support threshold, over the trade edges, both persisted in
    * `f`: the input of q497 and q504–q509. */
  private def persistedWeightedCoPurchase(f: Frames,
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    f.persist(basketPairCounts(f.persist(tradeEdges(s, d))).filter(col("sup") >= 8))

  val q448 = QuerySpec(
    "q448_hits_authorities",
    (s, d) => Frames.scoped { f =>
      Eager(hitsAuthorities(f, f.persist(tradeEdges(s, d))))
    },
    Some("""WITH edges AS (
           |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |a1 AS (SELECT supp, count(*) AS a FROM edges GROUP BY supp),
           |a1n AS (SELECT supp, a * 1000000 // (SELECT max(a) FROM a1) AS a_ppm FROM a1),
           |h1 AS (SELECT cust, CAST(sum(a_ppm) AS BIGINT) AS h
           |  FROM edges JOIN a1n USING (supp) GROUP BY cust),
           |h1n AS (SELECT cust, h * 1000000 // (SELECT max(h) FROM h1) AS h_ppm FROM h1),
           |a2 AS (SELECT supp, CAST(sum(h_ppm) AS BIGINT) AS a2
           |  FROM edges JOIN h1n USING (cust) GROUP BY supp)
           |SELECT supp AS s_suppkey,
           |  CAST(a2 * 1000000 // (SELECT max(a2) FROM a2) AS BIGINT) AS authority_ppm
           |FROM a2 ORDER BY authority_ppm DESC, s_suppkey LIMIT 10""".stripMargin),
  )

  /** q454 — item–item collaborative filtering (the Amazon/Sarwar
    * recipe) over the bipartite trade graph: suppliers co-purchased by
    * the same customers are neighbors; a customer's recommendations are
    * the top suppliers they DON'T buy from, scored by total
    * co-occurrence with the ones they do. Every stage is capped the
    * NearDup way rather than trusted: per-customer supplier sets cap at
    * the 16 lowest suppkeys before pairing (pair volume ≤ 256/customer,
    * enforced — a whale account cannot go quadratic), the item–item
    * model keeps each supplier's top-8 neighbors (bounded model, the
    * thing production CF ships), and the readout is the 10 lowest
    * custkeys' top-3. Exact integer scores; two fact-sized shuffles
    * (edge build, co-count), everything else model-sized. */
  /** q454's pipeline on an already-persisted edge frame, factored so
    * PlanAuditSpec can pin the cap discipline (the 16-per-customer
    * WindowGroupLimit that bounds the co-occurrence join) and
    * Round8EdgeSpec can prove capped-out suppliers never enter the
    * model. */
  private[graft] def itemItemRecs(edges: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import edges.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    {
        val capped = edges
          .withColumn("rn", row_number().over(
            Window.partitionBy($"cust").orderBy($"supp")))
          .filter($"rn" <= 16)
          .select($"cust", $"supp")
        val co = capped.as("a").join(capped.as("b"),
            $"a.cust" === $"b.cust" && $"a.supp" =!= $"b.supp")
          .groupBy($"a.supp".as("sa"), $"b.supp".as("sb"))
          .agg(count(lit(1)).as("co"))
        val model = co
          .withColumn("rn", row_number().over(
            Window.partitionBy($"sa").orderBy($"co".desc, $"sb")))
          .filter($"rn" <= 8)
          .select($"sa", $"sb", $"co")
        val probes = capped.filter($"cust" <= 10)
        val recs = probes.join(model, $"supp" === $"sa")
          .join(edges.select($"cust".as("c2"), $"supp".as("owned")),
            $"cust" === $"c2" && $"sb" === $"owned", "left_anti")
          .groupBy($"cust", $"sb")
          .agg(sum($"co").as("score"))
          .withColumn("rank", row_number().over(
            Window.partitionBy($"cust").orderBy($"score".desc, $"sb")).cast("int"))
          .filter($"rank" <= 3)
          .select($"cust".as("c_custkey"), $"rank",
            $"sb".as("recommended_suppkey"), $"score")
          .orderBy($"c_custkey", $"rank")
        recs
    }
  }

  val q454 = QuerySpec(
    "q454_itemitem_recommend",
    (s, d) => Frames.scoped { f =>
      Eager(itemItemRecs(f.persist(tradeEdges(s, d))))
    },
    Some("""WITH edges AS (
           |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |capped AS (SELECT cust, supp FROM (
           |    SELECT cust, supp, row_number() OVER (PARTITION BY cust ORDER BY supp) AS rn
           |    FROM edges) WHERE rn <= 16),
           |co AS (SELECT a.supp AS sa, b.supp AS sb, count(*) AS co
           |  FROM capped a JOIN capped b ON a.cust = b.cust AND a.supp <> b.supp
           |  GROUP BY 1, 2),
           |model AS (SELECT sa, sb, co FROM (
           |    SELECT sa, sb, co, row_number() OVER (PARTITION BY sa ORDER BY co DESC, sb) AS rn
           |    FROM co) WHERE rn <= 8),
           |probes AS (SELECT cust, supp FROM capped WHERE cust <= 10),
           |recs AS (SELECT p.cust, m.sb, CAST(sum(m.co) AS BIGINT) AS score
           |  FROM probes p JOIN model m ON p.supp = m.sa
           |  WHERE NOT EXISTS (SELECT 1 FROM edges e
           |    WHERE e.cust = p.cust AND e.supp = m.sb)
           |  GROUP BY 1, 2)
           |SELECT c_custkey, rank, recommended_suppkey, score FROM (
           |  SELECT cust AS c_custkey,
           |    CAST(row_number() OVER (PARTITION BY cust ORDER BY score DESC, sb) AS INT) AS rank,
           |    sb AS recommended_suppkey, score
           |  FROM recs)
           |WHERE rank <= 3
           |ORDER BY c_custkey, rank""".stripMargin),
  )

  /** The capped, support-thresholded co-purchase supplier projection
    * shared by q476/q477: undirected (sa < sb) edges between suppliers
    * sharing at least 8 customers, baskets capped at 16 per customer.
    * Two bounds, two reasons: the basket cap (q454's) keeps the pair
    * fan-out linear in customers at 100 TB, and the SUPPORT threshold
    * keeps the projected graph sparse — an unthresholded projection of
    * random baskets is near-complete, and a near-complete graph makes
    * every triangle/core algorithm quadratic no matter how it is
    * written (the sf1 dry-run spilled the naive oracle to 60+ GB
    * before this threshold existed). */
  private[graft] def coPurchaseEdges(edges: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import edges.sparkSession.implicits._
    basketPairCounts(edges).filter($"sup" >= 8).select($"u", $"v")
  }

  /** The capped per-customer basket pair COUNTS (pre-threshold),
    * factored from [[coPurchaseEdges]] because the counts are ADDITIVE
    * per customer — Σ_cust pairs(basket(cust)) — which is exactly what
    * makes the projection incrementally maintainable (q489): a
    * customer's contribution can be subtracted and re-added without
    * touching anyone else's. */
  private[graft] def basketPairCounts(edges: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import edges.sparkSession.implicits._
    // Pairs via a per-customer basket + in-row C(k,2) expansion (q24's
    // bucket pair emit) instead of a capped self-join — one shuffle
    // where the self-join form paid the cust shuffle twice plus a join.
    //
    // r12 (guide §2.3 "aggregate before you shuffle"): the 16-smallest
    // basket cap IS the bounded aggregate [[graft.functions
    // .BottomKLongAgg]] — the old row_number window + collect_list
    // pair paid a per-partition sort, the rank filter, and a second
    // aggregate over the survivors; bottom-k folds cap and basket into
    // ONE hash aggregate with an O(16) primitive buffer at every
    // stage, so a hub customer's rows partial-aggregate to 16 ids per
    // map task BEFORE the cust exchange (the window form shuffled and
    // sorted every row of the hub's partition — a window partition is
    // the one thing AQE skew handling cannot split). k-smallest-by-
    // supp is deterministic, so the basket — and every downstream
    // support count — is bit-identical to the rn <= 16 form the
    // oracle mirrors. (The typed-Aggregator BottomKLong udaf was
    // measured first and LOST to the window — immutable-Vector
    // rebuilds per row; the TypedImperativeAggregate form is the one
    // that wins. See OPTIMIZATION_r12.md §B.)
    edges.groupBy($"cust")
      .agg(graft.functions.BottomKLongAgg.bottomKLong($"supp", 16).as("ss"))
      // 1-supplier baskets carry no pairs — and guard Spark's
      // DESCENDING sequence(0, -1) corner in the expansion.
      .filter(size($"ss") >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ss)-2),
          |  i -> transform(sequence(i+1, size(ss)-1),
          |    j -> struct(ss[i] AS u, ss[j] AS v))))""".stripMargin)).as("p"))
      .groupBy($"p.u".as("u"), $"p.v".as("v"))
      .agg(count(lit(1)).as("sup"))
  }

  private val sqlCoPurchaseCtes: String =
    """ed AS (
      |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |capped AS (SELECT cust, supp FROM (
      |    SELECT cust, supp, row_number() OVER (PARTITION BY cust ORDER BY supp) AS rn
      |    FROM ed) WHERE rn <= 16),
      |g AS MATERIALIZED (SELECT u, v FROM (
      |    SELECT a.supp AS u, b.supp AS v, count(*) AS sup
      |    FROM capped a JOIN capped b ON a.cust = b.cust AND a.supp < b.supp
      |    GROUP BY 1, 2) WHERE sup >= 8)""".stripMargin

  /** [[sqlCoPurchaseCtes]] with the support WEIGHT kept on the final
    * projection CTE (`gw(u, v, sup)`) — q497's weighted walk consumes
    * the column the thresholded `g` drops. */
  private val sqlCoPurchaseWeightedCtes: String =
    """ed AS (
      |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |capped AS (SELECT cust, supp FROM (
      |    SELECT cust, supp, row_number() OVER (PARTITION BY cust ORDER BY supp) AS rn
      |    FROM ed) WHERE rn <= 16),
      |gw AS MATERIALIZED (SELECT u, v, sup FROM (
      |    SELECT a.supp AS u, b.supp AS v, CAST(count(*) AS BIGINT) AS sup
      |    FROM capped a JOIN capped b ON a.cust = b.cust AND a.supp < b.supp
      |    GROUP BY 1, 2) WHERE sup >= 8)""".stripMargin

  /** q476's pipeline over an already-persisted projection, factored so
    * PlanAuditSpec can pin the orientation shape: triangles via the
    * DEGREE-ORDERED two-path join — each undirected edge is oriented
    * from its (degree, id)-smaller endpoint to the larger, so a node's
    * out-degree (and therefore each edge's two-path fan-out) is bounded
    * by its SMALLER endpoint's degree. That is the standard trick that
    * makes triangle counting survive hub nodes: a degree-D hub
    * contributes O(Σ smaller-endpoint degrees) wedges instead of O(D²),
    * so the census holds up even if the projection's support threshold
    * is ever loosened. Orientation is a total order ((deg, id) pairs are
    * distinct for distinct nodes), every triangle is counted exactly
    * once as its unique oriented 2-path + closing edge, and the COUNTS
    * are orientation-invariant — the oracle's id-ordered SQL is
    * unchanged. Wedges from the degree census (Σ deg·(deg−1)/2),
    * coefficient = 3·triangles/wedges in exact ppm. The degree frame is
    * node-sized (a dimension) and broadcasts into the orientation. The
    * oriented list's checkpoint belongs to `f`. */
  private[graft] def triangleCensus(f: Frames, g: DataFrame): DataFrame = {
    import g.sparkSession.implicits._
    // r12: same wedge-stage rewrite as [[edgeSupport]] — the oriented
    // list checkpoints once (three join references used to re-derive
    // it) and the two-path/closing build sides ride the gated
    // broadcast; past [[BroadcastRowCap]] the joins keep their
    // shuffled shape.
    val mb = maybeBroadcast(g.count())
    val deg = g.select($"u".as("n")).unionAll(g.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
    val wedges = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val du = struct($"du", $"u")
    val dv = struct($"dv", $"v")
    val oriented = f.checkpoint(g
      .join(broadcast(deg.select($"n".as("u"), $"deg".as("du"))), Seq("u"))
      .join(broadcast(deg.select($"n".as("v"), $"deg".as("dv"))), Seq("v"))
      .select(when(du < dv, $"u").otherwise($"v").as("lo"),
        when(du < dv, $"v").otherwise($"u").as("hi")))
    val tri = oriented.as("e1")
      .join(mb(oriented).as("e2"), $"e1.hi" === $"e2.lo")
      .join(mb(oriented).as("e3"),
        $"e1.lo" === $"e3.lo" && $"e2.hi" === $"e3.hi", "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nEdges = g.agg(count(lit(1)).as("n_edges"))
    wedges.crossJoin(broadcast(nEdges)).crossJoin(broadcast(tri))
      .select($"n_nodes", $"n_edges", $"n_wedges", $"n_triangles",
        expr("n_triangles * 3000000L div nullif(n_wedges, 0L)")
          .as("clustering_ppm"))
  }

  /** q476 — triangle census + global clustering coefficient over the
    * co-purchase projection (see [[triangleCensus]] for the
    * degree-ordered orientation and why the oracle is unchanged by it) —
    * the graph-density readout behind community detection and spam
    * screens. The projection is persisted once and read by the degree
    * census, the orientation joins, and the edge count. */
  val q476 = QuerySpec(
    "q476_triangle_census",
    (s, d) => Frames.scoped { f =>
      Eager(triangleCensus(f, persistedCoPurchase(f, s, d)))
    },
    Some(s"""WITH $sqlCoPurchaseCtes,
            |deg AS (SELECT n, count(*) AS deg FROM (
            |  SELECT u AS n FROM g UNION ALL SELECT v FROM g) GROUP BY n),
            |w AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
            |  CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
            |wed AS (SELECT e1.u AS a, e2.v AS c FROM g e1 JOIN g e2 ON e1.v = e2.u),
            |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
            |  FROM wed JOIN g e3 ON wed.a = e3.u AND wed.c = e3.v),
            |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM g)
            |SELECT n_nodes, n_edges, n_wedges, n_triangles,
            |  CAST(n_triangles * 3000000 // nullif(n_wedges, 0) AS BIGINT) AS clustering_ppm
            |FROM w CROSS JOIN ne CROSS JOIN tri""".stripMargin),
  )

  /** q477 — 3-core peeling over the co-purchase projection: iteratively
    * remove nodes with degree < 3 until fixpoint (8 synchronized
    * rounds — both engines run EXACTLY 8, so a corpus that needs more
    * reports the same partial state on both sides), reporting survivors
    * and per-round removal counts — the "dense cohesive core" screen
    * (k-core is the standard preprocessing cut before community
    * detection, and the model of cascading-dropout robustness). Each
    * round is one degree census + two semi-joins over the CURRENT edge
    * frame, which is localCheckpoint'ed per round — each round's plan
    * references its parent three times, so without lineage truncation
    * the logical tree grows 3^rounds and the OPTIMIZER (not the data)
    * blows the heap; the checkpoint keeps every round's plan one scan
    * deep. The oracle replays the peel as a chained CTE. */
  /** q477's peel loop, factored so edge tests can drive it on synthetic
    * corpora (all-removed, nothing-removed — the fixpoint-before-R
    * edges): exactly `rounds` synchronized peel rounds of min-degree-3
    * over the given undirected edge frame, each round one degree census
    * + two semi-joins, each round's frame localCheckpoint'ed (see the
    * q477 doc for why lineage truncation is load-bearing). A fixpoint
    * reached early SHORT-CIRCUITS the remaining rounds — they are
    * no-ops on an identical frame, so the result still equals the
    * oracle's full R-round unroll while skipping their census cost.
    * Returns the final edge frame (held by `f`) and the total
    * removed-node count. */
  private[graft] def peel3Core(f: Frames, g0: DataFrame, rounds: Int)
      : (DataFrame, Long) = {
    import g0.sparkSession.implicits._
    var g = f.checkpoint(g0)
    var removed = 0L
    var fixed = false
    for (_ <- 1 to rounds if !fixed) {
      val deg = g.select($"u".as("n")).unionAll(g.select($"v".as("n")))
        .groupBy($"n").agg(count(lit(1)).as("deg"))
      val keep = deg.filter($"deg" >= 3).select($"n")
      val r = deg.filter($"deg" < 3).count()
      // Fixpoint early-exit: a round removing no nodes leaves the edge
      // frame identical, so the remaining rounds are censuses that
      // cannot change anything — the oracle's fixed unroll reaches the
      // same frame through no-op rounds.
      if (r == 0L) fixed = true
      else {
        removed += r
        val prev = g
        g = f.checkpoint(g
          .join(keep.select($"n".as("u")), Seq("u"), "left_semi")
          .join(keep.select($"n".as("v")), Seq("v"), "left_semi")
          .select($"u", $"v"))
        f.release(prev)
      }
    }
    (g, removed)
  }

  val q477 = QuerySpec(
    "q477_kcore_peeling",
    (s, d) => Frames.scoped { f =>
      import s.implicits._
      val (g, removed) = peel3Core(f, coPurchaseEdges(f.persist(tradeEdges(s, d))), 8)
      val core = g.select($"u".as("n")).unionAll(g.select($"v".as("n")))
        .distinct().agg(count(lit(1)).as("core_nodes"))
      Eager(g.agg(count(lit(1)).as("core_edges"))
        .crossJoin(broadcast(core))
        .select($"core_nodes", $"core_edges",
          lit(removed).as("n_removed")))
    },
    Some {
      val peel = (1 to 8).map { r =>
        // MATERIALIZED: DuckDB inlines CTEs by default, and each round
        // references its parent three times — the same 3^rounds blowup
        // the Spark side dodges with localCheckpoint (surfaced as fd
        // exhaustion re-opening the parquet at every inlined leaf).
        s"""d$r AS MATERIALIZED (SELECT n, count(*) AS deg FROM (
           |  SELECT u AS n FROM g${r - 1} UNION ALL SELECT v FROM g${r - 1}) GROUP BY n),
           |k$r AS (SELECT n FROM d$r WHERE deg >= 3),
           |g$r AS MATERIALIZED (SELECT u, v FROM g${r - 1}
           |  WHERE u IN (SELECT n FROM k$r) AND v IN (SELECT n FROM k$r))""".stripMargin
      }.mkString(",\n")
      s"""WITH $sqlCoPurchaseCtes,
         |g0 AS MATERIALIZED (SELECT u, v FROM g),
         |$peel,
         |core AS (SELECT CAST(count(DISTINCT n) AS BIGINT) AS core_nodes FROM (
         |  SELECT u AS n FROM g8 UNION ALL SELECT v FROM g8)),
         |ce AS (SELECT CAST(count(*) AS BIGINT) AS core_edges FROM g8),
         |rm AS (SELECT (SELECT count(*) FROM d1 WHERE deg < 3)
         |  + (SELECT count(*) FROM d2 WHERE deg < 3)
         |  + (SELECT count(*) FROM d3 WHERE deg < 3)
         |  + (SELECT count(*) FROM d4 WHERE deg < 3)
         |  + (SELECT count(*) FROM d5 WHERE deg < 3)
         |  + (SELECT count(*) FROM d6 WHERE deg < 3)
         |  + (SELECT count(*) FROM d7 WHERE deg < 3)
         |  + (SELECT count(*) FROM d8 WHERE deg < 3) AS n_removed)
         |SELECT core_nodes, core_edges, CAST(n_removed AS BIGINT) AS n_removed
         |FROM core CROSS JOIN ce CROSS JOIN rm""".stripMargin
    },
  )

  /** q478 — degree assortativity (Newman's r) over the co-purchase
    * projection: the Pearson correlation of endpoint degrees across
    * every directed edge instance — do hubs trade with hubs
    * (assortative, r>0) or with the periphery (disassortative, r<0)?
    * The readout that distinguishes social-style graphs from
    * web/biology-style ones, and the skew early-warning for join
    * planning on the projected graph. Sufficient statistics are EXACT
    * BIGINTs (degrees are integers; Σd, Σd², Σdxdy stay under 2⁶³ to
    * ~10⁹-endpoint graphs); the final r is one double expression over
    * those identical integers on both engines (the symmetric edge list
    * makes var(x)=var(y), so the denominator needs no sqrt; IEEE * and
    * / on identical operands match bit-for-bit).
    * One node-sized degree frame broadcast onto the edge list; one
    * 1-row aggregate. */
  /** q478's sufficient-statistic pipeline over an already-persisted
    * projection, factored so PlanAuditSpec can pin its shape and edge
    * tests can feed it synthetic graphs (the degree-regular NULL case):
    * one bidirected frame, one node-sized degree census broadcast back
    * onto it, one 1-row aggregate. */
  private[graft] def assortativityStats(g: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import g.sparkSession.implicits._
    val both = g.select($"u".as("src"), $"v".as("dst"))
      .unionAll(g.select($"v".as("src"), $"u".as("dst")))
    val deg = both.groupBy($"src".as("n")).agg(count(lit(1)).as("deg"))
    val st = both
      .join(broadcast(deg.select($"n".as("src"), $"deg".as("dx"))), Seq("src"))
      .join(broadcast(deg.select($"n".as("dst"), $"deg".as("dy"))), Seq("dst"))
      .agg(count(lit(1)).as("m2"),
        sum($"dx").as("sx"), sum($"dx" * $"dx").as("sxx"),
        sum($"dx" * $"dy").as("sxy"))
    // nullif: a degree-REGULAR graph (every node the same degree — the
    // complete graph sf0.001 yields, or any cycle) has zero degree
    // variance, where assortativity is mathematically undefined — NULL,
    // not a divide-by-zero (named Round9EdgeSpec case).
    st.select($"m2", $"sx", $"sxx", $"sxy",
      round(($"m2" * $"sxy" - $"sx" * $"sx").cast("double") /
        nullif(($"m2" * $"sxx" - $"sx" * $"sx").cast("double"), lit(0.0)), 4)
        .as("assortativity_r"))
  }

  val q478 = QuerySpec(
    "q478_degree_assortativity",
    (s, d) => Frames.scoped { f =>
      // The projection is PERSISTED: the plan references it four times
      // (both sides of the bidirected union, each feeding the degree
      // census and the stats join) — unpersisted, each reference
      // re-ran the capped-pair self-join, ~4× the build cost for one
      // projection's worth of answer (the round-8 detail line showed
      // ~120 cpu-s where one build costs ~35).
      Eager(assortativityStats(persistedCoPurchase(f, s, d)))
    },
    Some(s"""WITH $sqlCoPurchaseCtes,
            |bi AS (SELECT u AS src, v AS dst FROM g
            |  UNION ALL SELECT v, u FROM g),
            |deg AS (SELECT src AS n, count(*) AS deg FROM bi GROUP BY 1)
            |SELECT CAST(count(*) AS BIGINT) AS m2,
            |  CAST(sum(x.deg) AS BIGINT) AS sx,
            |  CAST(sum(x.deg * x.deg) AS BIGINT) AS sxx,
            |  CAST(sum(x.deg * y.deg) AS BIGINT) AS sxy,
            |  round(CAST(count(*) * sum(x.deg * y.deg) - sum(x.deg) * sum(x.deg) AS DOUBLE)
            |    / nullif(CAST(count(*) * sum(x.deg * x.deg) - sum(x.deg) * sum(x.deg) AS DOUBLE), 0), 4)
            |    AS assortativity_r
            |FROM bi b JOIN deg x ON b.src = x.n JOIN deg y ON b.dst = y.n""".stripMargin),
  )

  /** q481's propagation loop, factored for edge tests: `rounds`
    * SYNCHRONOUS label-propagation sweeps over an undirected edge frame
    * (init: every node labels itself; each round, a node adopts the
    * most frequent label among its NEIGHBORS, ties to the smallest
    * label — fully deterministic, the q59/q126 fixed-round integer
    * discipline, so the oracle can unroll the same rounds). Each round
    * is one edge-sized join against the previous label frame + one
    * (node, label) census + one per-node argmax window, and each
    * round's frame is localCheckpoint'ed (the q477 rule — the census
    * and window reference the parent more than once, so an
    * unchecked-pointed loop compounds the logical plan). Returns the
    * round-`rounds` (node, lbl) frame, held by `f`. */
  private[graft] def propagateLabels(f: Frames, g: DataFrame,
      rounds: Int): DataFrame = {
    import g.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val bi = g.select($"u".as("src"), $"v".as("dst"))
      .unionAll(g.select($"v".as("src"), $"u".as("dst")))
    var lbl = f.checkpoint(bi.select($"dst".as("n")).distinct()
      .select($"n", $"n".as("lbl")))
    val w = Window.partitionBy($"dst").orderBy($"cnt".desc, $"lbl")
    for (_ <- 1 to rounds) {
      val prev = lbl
      lbl = f.checkpoint(bi.join(lbl.select($"n".as("src"), $"lbl"), Seq("src"))
        .groupBy($"dst", $"lbl").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"dst".as("n"), $"lbl"))
      f.release(prev)
    }
    lbl
  }

  /** Modularity census of a FOUND partition over projection `g`
    * (q481's readout, factored for q495's Louvain partition): one row
    * per community — size, internal edges, degree mass, exact-ppm
    * signed contribution (q435's integer algebra, d² lifted to
    * DECIMAL(38,0) before the divide) — plus the com = −1 total row
    * whose contribution IS the partition's Q. `lbl` is (n, com). */
  private[graft] def modularityCensus(g: org.apache.spark.sql.DataFrame,
      lbl: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import g.sparkSession.implicits._
    val sizes = lbl.groupBy($"com").agg(count(lit(1)).as("n_members"))
    val ge = g
      .join(lbl.select($"n".as("u"), $"com".as("cu")), Seq("u"))
      .join(lbl.select($"n".as("v"), $"com".as("cv")), Seq("v"))
      .select($"cu", $"cv")
    val m = g.agg(count(lit(1)).as("m"))
    // r12: degree mass and internal edges in ONE pass over the
    // labeled edge frame (the old shape aggregated ge twice — a 2|E|
    // union for d and a second filtered |E| scan for e_in): the cu leg
    // carries the own-community flag, the cv leg never does (an
    // internal edge counts once for e_in, twice for d — unchanged
    // algebra), and the left-join + 0-fill disappears because every
    // community in `deg`'s old inner join also has ≥ 1 union row here.
    val dw = ge.select($"cu".as("com"), ($"cu" === $"cv").as("own"))
      .unionAll(ge.select($"cv".as("com"), lit(false).as("own")))
      .groupBy($"com").agg(count(lit(1)).as("d"),
        sum(when($"own", 1L).otherwise(0L)).as("e_in"))
    // Eager: the per-community frame feeds both the row output and
    // the total row — tiny (|communities| rows), materialized once.
    val per = Eager(sizes.join(dw, Seq("com"))
      .crossJoin(broadcast(m))
      .select($"com", $"n_members", $"e_in", $"d",
        (expr("e_in * 1000000L div m") - expr(
          "CAST(CAST(d AS DECIMAL(38,0)) * d * 1000000 div (CAST(m AS DECIMAL(38,0)) * m * 4) AS BIGINT)"))
          .as("contribution_ppm")))
    Eager(per.unionAll(
        per.agg(lit(-1L).as("com"), sum($"n_members").as("n_members"),
          sum($"e_in").as("e_in"), sum($"d").as("d"),
          sum($"contribution_ppm").as("contribution_ppm")))
      .orderBy($"com"))
  }

  /** The DuckDB mirror of [[modularityCensus]] over the materialized
    * projection CTE `g` and a final label CTE `lblCte(n, com)` —
    * shared by q481 (LPA labels) and q495 (Louvain labels). */
  private def sqlModularityCensus(lblCte: String): String =
    s"""sz AS (SELECT com, CAST(count(*) AS BIGINT) AS n_members FROM $lblCte GROUP BY 1),
       |ge AS MATERIALIZED (SELECT lu.com AS cu, lv.com AS cv
       |  FROM g JOIN $lblCte lu ON g.u = lu.n JOIN $lblCte lv ON g.v = lv.n),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM g),
       |cdeg AS (SELECT com, CAST(count(*) AS BIGINT) AS d FROM (
       |    SELECT cu AS com FROM ge UNION ALL SELECT cv FROM ge) GROUP BY com),
       |intl AS (SELECT cu AS com, CAST(count(*) AS BIGINT) AS e_in
       |  FROM ge WHERE cu = cv GROUP BY cu),
       |per AS (SELECT sz.com, sz.n_members, coalesce(intl.e_in, 0) AS e_in, cdeg.d,
       |    coalesce(intl.e_in, 0) * 1000000 // m
       |      - CAST(CAST(d AS HUGEINT) * d * 1000000 // (CAST(m AS HUGEINT) * m * 4) AS BIGINT)
       |      AS contribution_ppm
       |  FROM sz JOIN cdeg USING (com) LEFT JOIN intl USING (com) CROSS JOIN m)
       |SELECT CAST(com AS BIGINT) AS com, n_members, CAST(e_in AS BIGINT) AS e_in,
       |  d, CAST(contribution_ppm AS BIGINT) AS contribution_ppm FROM per
       |UNION ALL
       |SELECT -1, CAST(sum(n_members) AS BIGINT), CAST(sum(e_in) AS BIGINT),
       |  CAST(sum(d) AS BIGINT), CAST(sum(contribution_ppm) AS BIGINT) FROM per
       |ORDER BY com""".stripMargin

  /** q481 — community DETECTION by synchronous label propagation over
    * the co-purchase projection, closing the loop q435 only scores:
    * q435 computes the modularity of a GIVEN partition (nations); this
    * FINDS one (4 fixed LPA sweeps — see [[propagateLabels]]) and
    * reports, per found community, its census (n_members) plus q435's
    * exact-integer modularity decomposition over the projection
    * (internal edges, degree mass, signed contribution_ppm), and a
    * com = −1 total row whose contribution IS the found partition's Q —
    * the number that says whether the detected structure beats noise.
    * Scale: the corpus is touched once (the projection build, shared
    * machinery with q476–q478); every sweep is projection-edge-sized
    * with a node-sized label frame; the modularity readout is two
    * label joins + |communities|-row aggregates, the d² term lifted to
    * DECIMAL(38,0)/HUGEINT exactly as q435 does. */
  val q481 = QuerySpec(
    "q481_label_propagation",
    (s, d) => Frames.scoped { f =>
      import s.implicits._
      val g = persistedCoPurchase(f, s, d)
      modularityCensus(g, propagateLabels(f, g, 4).select($"n", $"lbl".as("com")))
    },
    Some {
      // Each round MATERIALIZED: l_r is referenced by the next census
      // and (for l4) by three readout CTEs — DuckDB's default inlining
      // would otherwise recompute the whole chain per reference (the
      // q477-oracle lesson).
      val rounds = (1 to 4).map { r =>
        s"""c$r AS (SELECT b.dst, l.lbl, count(*) AS cnt
           |  FROM bi b JOIN l${r - 1} l ON b.src = l.n GROUP BY 1, 2),
           |l$r AS MATERIALIZED (SELECT dst AS n, lbl FROM (
           |  SELECT dst, lbl, row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, lbl) AS rn
           |  FROM c$r) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $sqlCoPurchaseCtes,
         |bi AS MATERIALIZED (SELECT u AS src, v AS dst FROM g
         |  UNION ALL SELECT v, u FROM g),
         |l0 AS MATERIALIZED (SELECT DISTINCT dst AS n, dst AS lbl FROM bi),
         |$rounds,
         |lblf AS (SELECT n, lbl AS com FROM l4),
         |${sqlModularityCensus("lblf")}""".stripMargin
    },
  )

  /** q495's ascent loop, factored for edge tests: `rounds`
    * SEMI-SYNCHRONOUS one-level Louvain sweeps over an undirected edge
    * frame (init: every node its own community; each round the
    * ELIGIBLE nodes move to the adjacent community with the best
    * modularity GAIN, ties to the smallest community id — fully
    * deterministic, the q481/q126 fixed-round integer discipline, so
    * the oracle unrolls the same rounds). Eligibility alternates by
    * node-id parity (round r moves only n ≡ r (mod 2)) — the
    * semi-synchronous coloring fix for the classic fully-synchronous
    * pathology where two symmetric neighbors endlessly SWAP
    * communities (a lone edge never merges under all-move rounds; the
    * parity round merges it immediately and the edge test pins that).
    * The gain comparison is EXACT integers with no division:
    * ΔQ(n→C) ∝ 2m·k_{n,C} − Σtot′(C)·k_n after multiplying through by
    * 2m² — Σtot′(C) excludes n's own degree when C is n's current
    * community, and "stay" is just the own-community candidate, so
    * argmax(score desc, com asc) IS the Louvain move rule. Each round:
    * one edge-sized join (k_{n,C} census), two node-sized joins (k_n,
    * Σtot), one per-mover argmax window; each round's frame
    * localCheckpoint'ed (the q477 rule). Returns (n, com), over a
    * checkpoint held by `f`. */
  private[graft] def louvainRounds(f: Frames, g: DataFrame, rounds: Int): DataFrame =
    louvainRoundsCounted(f, g, rounds)._1

  /** [[louvainRounds]] plus the number of sweeps actually EXECUTED,
    * factored so the convergence edge test can assert the fixpoint
    * short-circuit fired (round-11 verdict ask #4: `trussPeel` and
    * `starContractLabels` short-circuit on a result-invariant probe
    * while the Louvain loops always paid their full sweep budget). */
  private[graft] def louvainRoundsCounted(f: Frames, g: DataFrame,
      rounds: Int): (DataFrame, Int) = {
    import g.sparkSession.implicits._
    val mVal = g.count()
    val bi = f.checkpoint(g.select($"u".as("src"), $"v".as("dst"))
      .unionAll(g.select($"v".as("src"), $"u".as("dst"))))
    val deg = f.checkpoint(bi.groupBy($"src".as("n")).agg(count(lit(1)).as("kn")))
    // Node census once (the checkpoint is already materialized, so this
    // count is metadata-cheap) — gates every sweep's side-frame
    // broadcast below AND sizes the loop's exchange width (r12): a
    // label-frame sweep's exchanges carry a few dozen bytes per node,
    // so the session's scan width would only multiply per-sweep fixed
    // cost; the shared derived-width rule at the loops' floor of 8.
    val nNodes = deg.count()
    val mb = maybeBroadcast(nNodes)
    val out = graft.Confs.withShufflePartitions(g.sparkSession,
        graft.Confs.derivedWidth(g.sparkSession, nNodes, 8)) {
      louvainLoop(f, rounds,
        f.checkpoint(deg.select($"n", $"n".as("com"))),
        (com, r) => louvainSweep(bi, deg, com, mVal, r, mb))
    }
    f.release(bi, deg)
    out
  }

  /** The shared semi-synchronous ascent loop with its FIXPOINT
    * SHORT-CIRCUIT, factored for [[louvainRoundsCounted]],
    * [[louvainRoundsWeighted]] and q507's level-2 loop: run `sweep`
    * up to `rounds` times, checkpointing and releasing each superseded
    * round's frame, and stop early after TWO consecutive zero-mover
    * sweeps. Why two, and why it is exact: one quiet sweep only proves
    * ITS parity class is settled — the next round moves the OTHER
    * class and may still find gains; after two consecutive quiet
    * sweeps the state is unchanged across both parities, so sweep r+1
    * sees exactly the state sweep r−1 saw and, by induction, every
    * remaining sweep is the identity. Result-invariant against the
    * oracles, which UNROLL the full budget: an identity sweep is the
    * identity on both engines, so stopping early returns the same
    * labels the unrolled SQL computes. The probe reads the sweep's own
    * `chg` flag off the materialized checkpoint — a filter + limit-1
    * emptiness scan of a node-sized frame, no join (r12: the sweep
    * knows cur vs next at argmax time, so the old join-against-
    * previous probe job was recomputing information the sweep already
    * had). `init` and every round's frame belong to `f`. Returns
    * (labels as (n, com), sweepsExecuted). */
  private def louvainLoop(f: Frames, rounds: Int, init: DataFrame,
      sweep: (DataFrame, Int) => DataFrame): (DataFrame, Int) = {
    import init.sparkSession.implicits._
    var com = init
    var quiet = 0
    var executed = 0
    var r = 1
    while (r <= rounds && quiet < 2) {
      val prev = com
      com = f.checkpoint(sweep(prev, r))
      executed += 1
      // Probing the FINAL budgeted sweep buys nothing — skip its job.
      if (r < rounds) {
        val movedAny = !com.filter($"chg").isEmpty
        quiet = if (movedAny) 0 else quiet + 1
      }
      // Superseded round's checkpoint blocks released eagerly (the
      // starContractLabels cleanup discipline — this loop's frames are
      // node-sized, but a 4M-node label frame × 6 sweeps is real block
      // -manager mass at scale).
      f.release(prev)
      r += 1
    }
    (com.select($"n", $"com"), executed)
  }

  /** One semi-synchronous Louvain sweep, factored from
    * [[louvainRounds]] so its PLAN shape is pinnable (PlanAuditSpec):
    * returns the next label frame pre-checkpoint, as (n, com, chg)
    * where chg marks nodes whose label CHANGED this sweep (false for
    * the resting parity class) — [[louvainLoop]]'s fixpoint probe
    * reads the flag off the materialized checkpoint instead of paying
    * a separate join-against-previous job per sweep. Every node-sized
    * side frame (deg, Σtot, current labels — tot is community-sized,
    * ≤ nodes) joins through `mb` (q126's rank-frame discipline gated
    * on the node census — past [[BroadcastRowCap]] these joins shuffle
    * instead of flooding the driver), INCLUDING the label frame the
    * knc census attaches to the edge list: below the cap the edge
    * frame is never pre-shuffled.
    *
    * r12 optimization (guide §2.3/§2.4), oracle-equivalence argued
    * term by term:
    *  - PARITY PUSHDOWN: only n ≡ r (mod 2) nodes may move, so the
    *    knc census filters the bidirected edge list to that dst class
    *    BEFORE the aggregate — half the edge rows per sweep feed the
    *    one edge-sized exchange (the resting class's knc rows were
    *    discarded by the old post-aggregate parity filter anyway).
    *  - ARGMAX AS AGGREGATE: the per-mover winner was row_number()
    *    OVER (PARTITION BY n ORDER BY score DESC, com) = 1 — a full
    *    sort-exchange of every candidate row. max(struct(score, −com))
    *    is the SAME total order (max struct compares score first, then
    *    −com, i.e. ties to the smallest community id), computed as a
    *    partially-aggregable per-n max: map-side combine shrinks the
    *    shuffle to one best-so-far row per (map task, n).
    *  - the old candidate max-merge (groupBy(n, com).agg(max(k)))
    *    disappears: its only duplicate was the own-community 0-row
    *    beside a knc row at k ≥ 1, and the score is strictly
    *    increasing in k (2m·k dominates, m ≥ 1 whenever edges exist),
    *    so the max-struct argmax picks the knc row over the 0-row
    *    without the pre-merge. A sweep's exchanges: the halved knc
    *    census, the Σtot aggregate, the argmax aggregate — the
    *    candidate-merge exchange and the window sort are gone. */
  private[graft] def louvainSweep(bi: org.apache.spark.sql.DataFrame,
      deg: org.apache.spark.sql.DataFrame, com: org.apache.spark.sql.DataFrame,
      mVal: Long, r: Int,
      mb: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import bi.sparkSession.implicits._
    val tot = com.join(mb(deg), Seq("n")).groupBy($"com")
      .agg(sum($"kn").as("tot"))
    // k_{n,C}: edges from n into each NEIGHBOR community (the only
    // communities a move can gain on) — plus the own community as an
    // explicit candidate at k = 0 (the argmax picks the knc row when
    // one exists — score grows with k — and the 0-row otherwise:
    // staying is always on the menu, so an isolated-in-community node
    // can stay put).
    val knc = bi.filter(pmod($"dst", lit(2)) === lit(r % 2))
      .join(mb(com.select($"n".as("src"), $"com")), Seq("src"))
      .groupBy($"dst", $"com").agg(count(lit(1)).as("k"))
      .select($"dst".as("n"), $"com", $"k")
    val cand = knc.unionByName(
      com.filter(pmod($"n", lit(2)) === lit(r % 2))
        .select($"n", $"com").withColumn("k", lit(0L)))
    val moved = cand
      .join(mb(deg), Seq("n"))
      .join(mb(tot), Seq("com"))
      .join(mb(com.select($"n", $"com".as("cur"))), Seq("n"))
      .withColumn("score",
        expr(s"2L * ${mVal}L * k - (tot - CASE WHEN com = cur THEN kn ELSE 0L END) * kn"))
      .groupBy($"n")
      .agg(max(struct($"score", negate($"com").as("nc"))).as("best"),
        min($"cur").as("cur"))
      .select($"n", negate($"best.nc").as("com"),
        ($"best.nc" =!= negate($"cur")).as("chg"))
    com.filter(pmod($"n", lit(2)) =!= lit(r % 2))
      .select($"n", $"com", lit(false).as("chg"))
      .unionByName(moved)
  }

  /** q495 — one-level LOUVAIN modularity ascent over the co-purchase
    * projection (the OPTIMIZING community detector beside q481's LPA:
    * LPA finds a popular-vote partition and q435/q481 merely SCORE
    * one; this query ASCENDS Q directly — every move is chosen by its
    * exact modularity gain, so the found partition's Q row is a local
    * optimum of the very objective the census reports): 4
    * semi-synchronous parity sweeps ([[louvainRounds]] —
    * exact-integer ΔQ, no division, ties to the smallest community
    * id), then [[modularityCensus]]'s
    * per-community readout with the com = −1 total row whose
    * contribution IS Q — directly comparable to q481's census over
    * the SAME projection. Scale: identical loop discipline to q481 —
    * the corpus is touched once (shared projection machinery), every
    * sweep is projection-edge-sized joined against node-sized frames,
    * the census is |communities|-row; at 100 TB the sweep keys stay
    * (node, community) — nothing neighborhood-quadratic. Oracle:
    * materialized-round SQL unrolling the same 4 sweeps. */
  val q495 = QuerySpec(
    "q495_louvain_ascent",
    (s, d) => Frames.scoped { f =>
      val g = persistedCoPurchase(f, s, d)
      modularityCensus(g, louvainRounds(f, g, 4))
    },
    Some {
      // Each round MATERIALIZED (the q481-oracle lesson); the score is
      // the same division-free 2m·k − Σtot′·k_n integer form the Spark
      // side compares, and each round moves only the n ≡ r (mod 2)
      // parity class (louvainRounds' semi-synchronous coloring).
      val rounds = (1 to 4).map { r =>
        s"""tot$r AS (SELECT com, CAST(sum(kn) AS BIGINT) AS tot
           |  FROM l${r - 1} JOIN nd USING (n) GROUP BY 1),
           |knc$r AS (SELECT b.dst AS n, l.com, CAST(count(*) AS BIGINT) AS k
           |  FROM bi b JOIN l${r - 1} l ON b.src = l.n GROUP BY 1, 2),
           |cand$r AS (SELECT n, com, max(k) AS k FROM (
           |    SELECT n, com, k FROM knc$r
           |    UNION ALL SELECT n, com, CAST(0 AS BIGINT) FROM l${r - 1}) GROUP BY 1, 2),
           |sc$r AS (SELECT c.n, c.com,
           |    2 * m0.m * c.k
           |      - (t.tot - CASE WHEN c.com = cur.com THEN nd.kn ELSE 0 END) * nd.kn
           |      AS score
           |  FROM cand$r c JOIN nd USING (n) JOIN tot$r t USING (com)
           |  JOIN l${r - 1} cur ON cur.n = c.n CROSS JOIN m0
           |  WHERE c.n % 2 = ${r % 2}),
           |l$r AS MATERIALIZED (
           |  SELECT n, com FROM (
           |    SELECT n, com, row_number() OVER (PARTITION BY n ORDER BY score DESC, com) AS rn
           |    FROM sc$r) WHERE rn = 1
           |  UNION ALL
           |  SELECT n, com FROM l${r - 1} WHERE n % 2 <> ${r % 2})""".stripMargin
      }.mkString(",\n")
      s"""WITH $sqlCoPurchaseCtes,
         |bi AS MATERIALIZED (SELECT u AS src, v AS dst FROM g
         |  UNION ALL SELECT v, u FROM g),
         |nd AS MATERIALIZED (SELECT src AS n, CAST(count(*) AS BIGINT) AS kn
         |  FROM bi GROUP BY 1),
         |m0 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM g),
         |l0 AS MATERIALIZED (SELECT n, n AS com FROM nd),
         |$rounds,
         |${sqlModularityCensus("l4")}""".stripMargin
    },
  )

  /** q497 — WEIGHTED personalized PageRank over the co-purchase
    * projection (the walk both q126 and q378 cannot express: those are
    * UNWEIGHTED walks on the trade bipartite graph — here the random
    * surfer leaves a supplier along each tie with probability
    * proportional to the tie's SUPPORT (shared-customer count, the
    * `sup` column the q476-family threshold consumes and then drops),
    * so rank flows along STRONG co-purchase relationships instead of
    * treating a support-8 and a support-200 edge alike — the
    * "suppliers most reachable from these hubs through heavy ties"
    * recommendation readout): teleport mass on the top-2 hubs by
    * (strength, id), 3 damped sweeps, PRₖ₊₁ = 0.15·e + 0.85·Wᵀ·PRₖ
    * with W the strength-normalized weight matrix. Determinism is
    * q126's fixed-point discipline with one extension: the per-edge
    * term pr·w/strength would overflow BIGINT at 10⁻¹⁵ units × large
    * weights, so it is lifted through DECIMAL(38,0)/HUGEINT before the
    * floor-divide (q435's d² discipline) — identical truncation on
    * both engines, unconditional hash match. Scale: the
    * strength-attached weighted edge frame is built once and
    * localCheckpoint'ed; each sweep hints the node-sized rank frame
    * onto it (no edge bytes move), gated on the node census
    * ([[maybeBroadcast]] — past [[BroadcastRowCap]] the sweep join
    * shuffles instead of broadcasting a billion-node frame);
    * TakeOrdered top-15 readout. */
  /** One damped weighted-PPR sweep, factored from q497 so its PLAN
    * shape is pinnable (PlanAuditSpec): PRₖ₊₁ = 0.15·e + 0.85·Wᵀ·PRₖ
    * over the strength-attached edge frame, returned pre-checkpoint.
    * The rank frame joins the edge list through `mb` (no edge bytes
    * move below [[BroadcastRowCap]]) and the node-sized contribution
    * frame joins `e` through `mb` too — below the cap a sweep's only
    * exchange is the contribution aggregate. */
  private[graft] def pprSweep(edgesW: org.apache.spark.sql.DataFrame,
      e: org.apache.spark.sql.DataFrame, pr: org.apache.spark.sql.DataFrame,
      mb: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import edgesW.sparkSession.implicits._
    val contribs = edgesW
      .join(mb(pr.select($"n".as("src"), $"pr_units")), Seq("src"))
      .select($"dst", expr(
        "CAST(CAST(pr_units AS DECIMAL(38,0)) * w DIV str AS BIGINT)").as("c"))
      .groupBy($"dst").agg(sum($"c").as("csum"))
    e.join(mb(contribs.select($"dst".as("n"), $"csum")), Seq("n"), "left")
      .select($"n",
        (expr("(15 * e_units) DIV 100") +
          expr("(85 * coalesce(csum, 0L)) DIV 100")).as("pr_units"))
  }

  val q497 = QuerySpec(
    "q497_weighted_pagerank",
    (s, d) => Frames.scoped { f =>
      import s.implicits._
      val g = persistedWeightedCoPurchase(f, s, d)
      graft.Confs.withShufflePartitions(s, 8) {
        val bi = f.checkpoint(g.select($"u".as("src"), $"v".as("dst"), $"sup".as("w"))
          .unionAll(g.select($"v".as("src"), $"u".as("dst"), $"sup".as("w"))))
        val strength = f.checkpoint(bi.groupBy($"src".as("n")).agg(sum($"w").as("str")))
        // Node census once (checkpoint already materialized) — gates
        // every sweep's rank-frame broadcast.
        val mb = maybeBroadcast(strength.count())
        val seeds = f.checkpoint(strength.orderBy($"str".desc, $"n").limit(2)
          .select($"n", lit(1L).as("is_seed")))
        val seedUnits = PrUnits / 2L
        // e(v): the personalization vector — all mass on the seeds.
        val e = f.checkpoint(strength.select($"n").join(seeds, Seq("n"), "left")
          .select($"n",
            (coalesce($"is_seed", lit(0L)) * lit(seedUnits)).as("e_units")))
        var pr = f.checkpoint(e.select($"n", $"e_units".as("pr_units")))
        val edgesW = f.checkpoint(
          bi.join(strength.select($"n".as("src"), $"str"), Seq("src")))
        for (_ <- 1 to PrIters) {
          val prev = pr
          pr = f.checkpoint(pprSweep(edgesW, e, pr, mb))
          f.release(prev)
        }
        Eager(pr.join(e.select($"n", ($"e_units" > 0).cast("long").as("is_seed")),
            Seq("n"))
          .orderBy($"pr_units".desc, $"n").limit(15)
          .select($"n".as("node"), $"is_seed", $"pr_units"))
      }
    },
    Some {
      val sweeps = (1 to 3).map { r =>
        s"""c$r AS (SELECT ed.dst AS n,
           |    sum(CAST(CAST(p.pr_units AS HUGEINT) * ed.w // ed.str AS BIGINT)) AS csum
           |  FROM pr${r - 1} p JOIN edj ed ON p.n = ed.src GROUP BY 1),
           |pr$r AS MATERIALIZED (SELECT e.n,
           |    (15 * e.e_units) // 100 + (85 * coalesce(c.csum, 0)) // 100 AS pr_units
           |  FROM e LEFT JOIN c$r c USING (n))""".stripMargin
      }.mkString(",\n")
      s"""WITH $sqlCoPurchaseWeightedCtes,
         |bi AS MATERIALIZED (SELECT u AS src, v AS dst, sup AS w FROM gw
         |  UNION ALL SELECT v, u, sup FROM gw),
         |st AS MATERIALIZED (SELECT src AS n, CAST(sum(w) AS BIGINT) AS str
         |  FROM bi GROUP BY 1),
         |seeds AS (SELECT n FROM (
         |    SELECT n, row_number() OVER (ORDER BY str DESC, n) AS rn FROM st)
         |  WHERE rn <= 2),
         |e AS MATERIALIZED (SELECT st.n,
         |    CASE WHEN st.n IN (SELECT n FROM seeds)
         |      THEN 500000000000000 ELSE 0 END AS e_units
         |  FROM st),
         |edj AS MATERIALIZED (SELECT bi.src, bi.dst, bi.w, st.str
         |  FROM bi JOIN st ON bi.src = st.n),
         |pr0 AS (SELECT n, e_units AS pr_units FROM e),
         |$sweeps
         |SELECT n AS node, CAST(e_units > 0 AS BIGINT) AS is_seed,
         |  CAST(pr_units AS BIGINT) AS pr_units
         |FROM pr3 JOIN e USING (n)
         |ORDER BY pr_units DESC, n LIMIT 15""".stripMargin
    },
  )

  /** One WEIGHTED semi-synchronous Louvain sweep — [[louvainSweep]]'s
    * shape with support weights and strength in place of 1 and degree
    * (the round-10 verdict's completion ask: q495 ascends UNWEIGHTED
    * modularity while sitting beside the weighted projection q497
    * consumes): k_{n,C} becomes the WEIGHT from n into C, k_n the
    * node's strength, Σtot the strength mass — and the division-free
    * gain 2W·k − Σtot′(C)·s_n is lifted through DECIMAL before the
    * products (q497's overflow discipline: W and strength are weight
    * SUMS, so the BIGINT headroom the unweighted form enjoys is gone;
    * DECIMAL(20,0)×BIGINT → exact DECIMAL(38,0), mirrored by HUGEINT
    * in the oracle — identical exact-integer ordering). Same parity
    * eligibility, same smallest-community tie, same gated broadcasts.
    * `bi` carries (src, dst, w); `str` is the strength frame (n, kn). */
  private[graft] def louvainSweepWeighted(bi: org.apache.spark.sql.DataFrame,
      str: org.apache.spark.sql.DataFrame, com: org.apache.spark.sql.DataFrame,
      wTot: Long, r: Int,
      mb: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import bi.sparkSession.implicits._
    // r12: same three-step rewrite as [[louvainSweep]] (parity pushdown
    // below the knc census, candidate-merge dropped — the weighted
    // score is strictly increasing in k too, weights are ≥ 1 — and the
    // per-mover argmax window replaced by the partially-aggregable
    // max(struct(score, −com)), identical (score DESC, com ASC) order
    // with the DECIMAL score compared first). Returns (n, com, chg).
    val tot = com.join(mb(str), Seq("n")).groupBy($"com")
      .agg(sum($"kn").as("tot"))
    val knc = bi.filter(pmod($"dst", lit(2)) === lit(r % 2))
      .join(mb(com.select($"n".as("src"), $"com")), Seq("src"))
      .groupBy($"dst", $"com").agg(sum($"w").as("k"))
      .select($"dst".as("n"), $"com", $"k")
    val cand = knc.unionByName(
      com.filter(pmod($"n", lit(2)) === lit(r % 2))
        .select($"n", $"com").withColumn("k", lit(0L)))
    val moved = cand
      .join(mb(str), Seq("n"))
      .join(mb(tot), Seq("com"))
      .join(mb(com.select($"n", $"com".as("cur"))), Seq("n"))
      .withColumn("score",
        expr(s"CAST(2 * ${wTot}L AS DECIMAL(20,0)) * k" +
          " - CAST(tot - CASE WHEN com = cur THEN kn ELSE 0L END AS DECIMAL(20,0)) * kn"))
      .groupBy($"n")
      .agg(max(struct($"score", negate($"com").as("nc"))).as("best"),
        min($"cur").as("cur"))
      .select($"n", negate($"best.nc").as("com"),
        ($"best.nc" =!= negate($"cur")).as("chg"))
    com.filter(pmod($"n", lit(2)) =!= lit(r % 2))
      .select($"n", $"com", lit(false).as("chg"))
      .unionByName(moved)
  }

  /** q504's ascent loop, factored for edge tests: `rounds` weighted
    * parity sweeps over a weighted undirected edge frame `gw(u, v,
    * sup)` — [[louvainRounds]]' discipline with [[louvainSweepWeighted]]
    * in the sweep seat. Returns (n, com), over a checkpoint held by
    * `f`. */
  private[graft] def louvainRoundsWeighted(f: Frames, gw: DataFrame,
      rounds: Int): DataFrame =
    louvainRoundsWeightedCounted(f, gw, rounds)._1

  /** [[louvainRoundsWeighted]] plus the executed-sweep count — the
    * weighted sibling of [[louvainRoundsCounted]], sharing
    * [[louvainLoop]]'s fixpoint short-circuit. */
  private[graft] def louvainRoundsWeightedCounted(f: Frames, gw: DataFrame,
      rounds: Int): (DataFrame, Int) = {
    import gw.sparkSession.implicits._
    val wTot = {
      val cell = gw.agg(sum($"sup")).head
      if (cell.isNullAt(0)) 0L else cell.getLong(0)
    }
    val bi = f.checkpoint(gw.select($"u".as("src"), $"v".as("dst"), $"sup".as("w"))
      .unionAll(gw.select($"v".as("src"), $"u".as("dst"), $"sup".as("w"))))
    val str = f.checkpoint(bi.groupBy($"src".as("n")).agg(sum($"w").as("kn")))
    val nNodes = str.count()
    val mb = maybeBroadcast(nNodes)
    // r12: loop exchanges sized to the node census (see
    // [[louvainRoundsCounted]]).
    val out = graft.Confs.withShufflePartitions(gw.sparkSession,
        graft.Confs.derivedWidth(gw.sparkSession, nNodes, 8)) {
      louvainLoop(f, rounds,
        f.checkpoint(str.select($"n", $"n".as("com"))),
        (com, r) => louvainSweepWeighted(bi, str, com, wTot, r, mb))
    }
    f.release(bi, str)
    out
  }

  /** WEIGHTED modularity census of a found partition over the weighted
    * projection `gw(u, v, sup)` — [[modularityCensus]] with every count
    * replaced by a weight sum: per community its size, internal WEIGHT
    * w_in, strength mass s, and exact-ppm contribution w_in/W −
    * (s/2W)², the s² and W² products lifted to DECIMAL(38,0)/HUGEINT
    * (q435's discipline — strength masses square well past BIGINT at
    * weight scale); the com = −1 total row's contribution IS the
    * weighted Q. */
  private[graft] def modularityCensusWeighted(gw: org.apache.spark.sql.DataFrame,
      lbl: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import gw.sparkSession.implicits._
    modularityCensusWeightedFromGe(gw, lbl, gw
      .join(lbl.select($"n".as("u"), $"com".as("cu")), Seq("u"))
      .join(lbl.select($"n".as("v"), $"com".as("cv")), Seq("v"))
      .select($"cu", $"cv", $"sup"))
  }

  /** The census half of [[modularityCensusWeighted]] over an ALREADY
    * label-attached edge frame `ge(cu, cv, sup)` — factored (r13) so
    * q508's audit can feed one shared labeled pass into both the census
    * and the intra-community carve instead of attaching the same labels
    * to the same edges twice. */
  private[graft] def modularityCensusWeightedFromGe(
      gw: org.apache.spark.sql.DataFrame,
      lbl: org.apache.spark.sql.DataFrame,
      ge: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import gw.sparkSession.implicits._
    val sizes = lbl.groupBy($"com").agg(count(lit(1)).as("n_members"))
    val m = gw.agg(sum($"sup").as("m"))
    // r12: one fused pass for degree mass + internal weight (see
    // [[modularityCensus]] — same rewrite, weight sums in place of
    // counts; sum(when(own, sup)) over a non-empty group is 0-defaulted
    // via coalesce because sum(CASE) is null when no own row exists).
    val dw = ge.select($"cu".as("com"), $"sup", ($"cu" === $"cv").as("own"))
      .unionAll(ge.select($"cv".as("com"), $"sup", lit(false).as("own")))
      .groupBy($"com").agg(sum($"sup").as("d"),
        coalesce(sum(when($"own", $"sup")), lit(0L)).as("w_in"))
    val per = Eager(sizes.join(dw, Seq("com"))
      .crossJoin(broadcast(m))
      .select($"com", $"n_members", $"w_in", $"d",
        // The w_in·10⁶ term rides the same DECIMAL(38,0)/HUGEINT lift as
        // the d² term: w_in is a weight SUM, and raw BIGINT×10⁶ wraps
        // silently on Spark (non-ANSI) past w_in ≈ 9.2e12 while the
        // DuckDB mirror raises — lifted, both engines stay exact.
        (expr("CAST(CAST(w_in AS DECIMAL(38,0)) * 1000000 div m AS BIGINT)") - expr(
          "CAST(CAST(d AS DECIMAL(38,0)) * d * 1000000 div (CAST(m AS DECIMAL(38,0)) * m * 4) AS BIGINT)"))
          .as("contribution_ppm")))
    Eager(per.unionAll(
        per.agg(lit(-1L).as("com"), sum($"n_members").as("n_members"),
          sum($"w_in").as("w_in"), sum($"d").as("d"),
          sum($"contribution_ppm").as("contribution_ppm")))
      .orderBy($"com"))
  }

  /** The DuckDB mirror of [[modularityCensusWeighted]] over the
    * materialized weighted projection CTE `gw` and a final label CTE
    * `lblCte(n, com)`. */
  private def sqlModularityCensusWeighted(lblCte: String): String =
    s"""sz AS (SELECT com, CAST(count(*) AS BIGINT) AS n_members FROM $lblCte GROUP BY 1),
       |ge AS MATERIALIZED (SELECT lu.com AS cu, lv.com AS cv, gw.sup
       |  FROM gw JOIN $lblCte lu ON gw.u = lu.n JOIN $lblCte lv ON gw.v = lv.n),
       |m AS (SELECT CAST(sum(sup) AS BIGINT) AS m FROM gw),
       |cdeg AS (SELECT com, CAST(sum(sup) AS BIGINT) AS d FROM (
       |    SELECT cu AS com, sup FROM ge UNION ALL SELECT cv, sup FROM ge) GROUP BY com),
       |intl AS (SELECT cu AS com, CAST(sum(sup) AS BIGINT) AS w_in
       |  FROM ge WHERE cu = cv GROUP BY cu),
       |per AS (SELECT sz.com, sz.n_members, coalesce(intl.w_in, 0) AS w_in, cdeg.d,
       |    CAST(CAST(coalesce(intl.w_in, 0) AS HUGEINT) * 1000000 // m AS BIGINT)
       |      - CAST(CAST(d AS HUGEINT) * d * 1000000 // (CAST(m AS HUGEINT) * m * 4) AS BIGINT)
       |      AS contribution_ppm
       |  FROM sz JOIN cdeg USING (com) LEFT JOIN intl USING (com) CROSS JOIN m)
       |SELECT CAST(com AS BIGINT) AS com, n_members, CAST(w_in AS BIGINT) AS w_in,
       |  d, CAST(contribution_ppm AS BIGINT) AS contribution_ppm FROM per
       |UNION ALL
       |SELECT -1, CAST(sum(n_members) AS BIGINT), CAST(sum(w_in) AS BIGINT),
       |  CAST(sum(d) AS BIGINT), CAST(sum(contribution_ppm) AS BIGINT) FROM per
       |ORDER BY com""".stripMargin

  /** q504 — WEIGHTED one-level Louvain ascent over the co-purchase
    * projection WITH its support weights (the natural completion the
    * round-10 verdict named: q495 ascends unweighted modularity over
    * the thresholded `g` while q497, in the same file, built the
    * weighted projection `gw` — real co-purchase communities are
    * weight-driven, a support-200 tie and a support-8 tie are not the
    * same evidence): 4 semi-synchronous parity sweeps of
    * [[louvainSweepWeighted]] (exact-integer ΔQ with strength in place
    * of degree, DECIMAL-lifted products, ties to the smallest
    * community id), then [[modularityCensusWeighted]]'s per-community
    * readout whose com = −1 row IS the weighted Q — directly
    * comparable to q495's unweighted census over the same edges, and
    * the pair quantifies what the weights change (Round11EdgeSpec pins
    * a fixture where they DISAGREE: one heavy tie beats many light
    * ones). Scale: identical loop discipline to q495 — one weighted
    * knc census shuffle + node-sized gated broadcasts per sweep,
    * |communities|-row readout. Oracle: materialized-round SQL
    * unrolling the same 4 weighted sweeps. */
  val q504 = QuerySpec(
    "q504_louvain_weighted",
    (s, d) => Frames.scoped { f =>
      val gw = persistedWeightedCoPurchase(f, s, d)
      modularityCensusWeighted(gw, louvainRoundsWeighted(f, gw, 4))
    },
    Some {
      val rounds = (1 to 4).map { r =>
        s"""tot$r AS (SELECT com, CAST(sum(kn) AS BIGINT) AS tot
           |  FROM l${r - 1} JOIN nd USING (n) GROUP BY 1),
           |knc$r AS (SELECT b.dst AS n, l.com, CAST(sum(b.w) AS BIGINT) AS k
           |  FROM bi b JOIN l${r - 1} l ON b.src = l.n GROUP BY 1, 2),
           |cand$r AS (SELECT n, com, max(k) AS k FROM (
           |    SELECT n, com, k FROM knc$r
           |    UNION ALL SELECT n, com, CAST(0 AS BIGINT) FROM l${r - 1}) GROUP BY 1, 2),
           |sc$r AS (SELECT c.n, c.com,
           |    CAST(2 * m0.m AS HUGEINT) * c.k
           |      - CAST(t.tot - CASE WHEN c.com = cur.com THEN nd.kn ELSE 0 END AS HUGEINT) * nd.kn
           |      AS score
           |  FROM cand$r c JOIN nd USING (n) JOIN tot$r t USING (com)
           |  JOIN l${r - 1} cur ON cur.n = c.n CROSS JOIN m0
           |  WHERE c.n % 2 = ${r % 2}),
           |l$r AS MATERIALIZED (
           |  SELECT n, com FROM (
           |    SELECT n, com, row_number() OVER (PARTITION BY n ORDER BY score DESC, com) AS rn
           |    FROM sc$r) WHERE rn = 1
           |  UNION ALL
           |  SELECT n, com FROM l${r - 1} WHERE n % 2 <> ${r % 2})""".stripMargin
      }.mkString(",\n")
      s"""WITH $sqlCoPurchaseWeightedCtes,
         |bi AS MATERIALIZED (SELECT u AS src, v AS dst, sup AS w FROM gw
         |  UNION ALL SELECT v, u, sup FROM gw),
         |nd AS MATERIALIZED (SELECT src AS n, CAST(sum(w) AS BIGINT) AS kn
         |  FROM bi GROUP BY 1),
         |m0 AS (SELECT CAST(sum(sup) AS BIGINT) AS m FROM gw),
         |l0 AS MATERIALIZED (SELECT n, n AS com FROM nd),
         |$rounds,
         |${sqlModularityCensusWeighted("l4")}""".stripMargin
    },
  )

  /** Louvain graph CONTRACTION, factored for q507 and its pins: given
    * a weighted edge frame `gw(u, v, sup)` and a level-1 partition
    * `p1(n, com)`, build the community SUPER-GRAPH — super-edges
    * between distinct communities with summed weight (canonical
    * u < v), and per-community SELF mass (internal weight, which moves
    * with the super-node and cancels out of every ΔQ comparison but
    * must still count in the super-node's STRENGTH: s₂(c) = Σ external
    * + 2·w_in, the standard multi-level bookkeeping). Returns
    * (superEdges(u, v, sup), strengths(n, kn)) with every community —
    * including fully-internal ones with no super-edges — present in
    * the strength frame, so the level-2 sweep keeps them as their own
    * super-node. Two label joins + edge-sized aggregates; the label
    * frame joins through `mb`. */
  /** The fused contraction PASS (r13, guide §2.4): ONE walk of the
    * weighted edge frame produces inter- AND intra-community mass.
    * The old shape filtered the labeled frame `ge` separately for e2
    * and selfw — and e2 fed both the strength frame and the caller's
    * bi2, so the corpus-sized label-join pass ran up to three times.
    * Grouping by the (least, greatest) community pair keeps self-loop
    * rows as u = v groups: the u ≠ v slice IS the old e2
    * (least/greatest unchanged on distinct pairs) and the u = v slice
    * IS the old per-cu self-weight sum. Lazy — factored so
    * PlanAuditSpec can pin the gated broadcasts and the single
    * exchange; [[louvainContract]] checkpoints it. */
  private[graft] def louvainContractMerged(gw: org.apache.spark.sql.DataFrame,
      p1: org.apache.spark.sql.DataFrame,
      mb: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import gw.sparkSession.implicits._
    gw.join(mb(p1.select($"n".as("u"), $"com".as("cu"))), Seq("u"))
      .join(mb(p1.select($"n".as("v"), $"com".as("cv"))), Seq("v"))
      .select(least($"cu", $"cv").as("u"), greatest($"cu", $"cv").as("v"), $"sup")
      .groupBy($"u", $"v").agg(sum($"sup").as("sup"))
  }

  /** The super-graph halves over the fused pass, which is checkpointed
    * in `f`: (superEdges(u, v, sup), strengths(n, kn)), both lazy. */
  private[graft] def louvainContract(f: Frames, gw: DataFrame, p1: DataFrame,
      mb: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    import gw.sparkSession.implicits._
    val merged = f.checkpoint(louvainContractMerged(gw, p1, mb))
    val e2 = merged.filter($"u" =!= $"v")
    val selfw = merged.filter($"u" === $"v").select($"u".as("n"), $"sup".as("lw"))
    val ext = e2.select($"u".as("n"), $"sup")
      .unionAll(e2.select($"v".as("n"), $"sup"))
      .groupBy($"n").agg(sum($"sup").as("s"))
    val str2 = p1.select($"com".as("n")).distinct()
      .join(ext, Seq("n"), "left")
      .join(selfw, Seq("n"), "left")
      .select($"n",
        (coalesce($"s", lit(0L)) + lit(2L) * coalesce($"lw", lit(0L))).as("kn"))
    (e2, str2)
  }

  /** The level-2 inputs of q507/q509: [[louvainContract]]'s strength
    * frame and bidirected super-edge frame (src, dst, w), both
    * checkpointed in `f`. The fused pass under them is dead once both
    * are materialized, so it lives in a scope of its own. */
  private def superGraph(f: Frames, gw: DataFrame, p1: DataFrame,
      mb: DataFrame => DataFrame): (DataFrame, DataFrame) = Frames.scoped { pass =>
    import gw.sparkSession.implicits._
    val (e2, str2raw) = louvainContract(pass, gw, p1, mb)
    val str2 = f.checkpoint(str2raw)
    val bi2 = f.checkpoint(e2.select($"u".as("src"), $"v".as("dst"), $"sup".as("w"))
      .unionAll(e2.select($"v".as("src"), $"u".as("dst"), $"sup".as("w"))))
    (bi2, str2)
  }

  /** q507 — TWO-LEVEL hierarchical Louvain over the weighted
    * projection (the actual multi-level algorithm — q504 is its level
    * 1: real Louvain alternates local ascent with graph CONTRACTION,
    * and the contraction is what lets communities merge that no
    * single-node move can reach, because moving a whole level-1
    * community across a tie is one super-node move): 4 weighted parity
    * sweeps → [[louvainContract]] → 2 more weighted sweeps ON THE
    * SUPER-GRAPH (the same [[louvainSweepWeighted]] — it is already
    * parameterized by strength frame and total, and the self-loop mass
    * rides the strengths while canceling out of every ΔQ comparison) →
    * labels composed back to original nodes → the weighted modularity
    * census, whose com = −1 row IS the two-level Q, directly
    * comparable to q504's one-level Q over the same edges
    * (Round11EdgeSpec pins a chained-pairs fixture where level 2
    * strictly improves Q by merging the level-1 pairs). Scale: the
    * super-graph is |communities|-sized — contraction is the step that
    * makes Louvain tractable on billion-node graphs, every level
    * cheaper than the last; sweeps keep q504's gated-broadcast
    * discipline. Oracle: materialized-round SQL unrolling both levels
    * and the contraction. */
  /** q507's full pipeline, factored for edge tests: 4 level-1 weighted
    * sweeps, contraction, `l2Rounds` level-2 sweeps, labels composed
    * back to original nodes as (n, com) with com = the level-1 label of
    * the winning super-node. Level-2 super-nodes are RANK-REMAPPED
    * (row_number over community id) before sweeping: level-1 labels
    * inherit whatever parity structure the ascent's tie-breaks produce
    * — an all-even label set would put every super-node in the same
    * parity class and degrade the semi-synchronous sweep to the fully
    * synchronous swap pathology — while dense ranks alternate parity by
    * construction. The rank window is |communities|-sized (a one-task
    * sort of a dimension frame, never corpus-sized) and identical in
    * the oracle. The labels are a checkpoint held by `f`. */
  private[graft] def louvainTwoLevelLabels(f: Frames, gw: DataFrame,
      l2Rounds: Int): DataFrame = {
    import gw.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val wTot = {
      val cell = gw.agg(sum($"sup")).head
      if (cell.isNullAt(0)) 0L else cell.getLong(0)
    }
    val p1 = louvainRoundsWeighted(f, gw, 4)
    val nNodes = p1.count()
    val mb = maybeBroadcast(nNodes)
    val rt = f.checkpoint(p1.select($"com".as("c1")).distinct()
      .withColumn("rk", row_number().over(Window.orderBy($"c1"))))
    // r13: checkpoint the rank-remapped labels — referenced three times
    // (both contraction label legs + the compose).
    val p1rk = f.checkpoint(p1.join(mb(rt), $"com" === $"c1")
      .select($"n", $"rk".as("com")))
    val (bi2, str2) = superGraph(f, gw, p1rk, mb)
    // r12: the level-2 loop runs over |communities|-sized frames —
    // its exchanges ride the node-census-derived width (the
    // contraction above keeps the session width, its aggregates are
    // edge-sized).
    val (com2, _) = graft.Confs.withShufflePartitions(gw.sparkSession,
        graft.Confs.derivedWidth(gw.sparkSession, nNodes, 8)) {
      louvainLoop(f, l2Rounds,
        f.checkpoint(str2.select($"n", $"n".as("com"))),
        (com, r) => louvainSweepWeighted(bi2, str2, com, wTot, r, mb))
    }
    // Compose back: original node → its community's rank → that rank's
    // level-2 community rank → that rank's ORIGINAL level-1 label (so
    // the output community ids stay in the original key space).
    // r13: the composed labels are checkpointed — every consumer
    // (q507's census legs, q508's audit) walks the label frame at least
    // twice, and each walk used to replay the whole compose chain —
    // and the now-dead intermediates are released eagerly.
    val composed = f.checkpoint(p1rk
      .join(mb(com2.select($"n".as("com"), $"com".as("c2rk"))), Seq("com"))
      .join(mb(rt.select($"rk".as("c2rk"), $"c1".as("com_out"))), Seq("c2rk"))
      .select($"n", $"com_out".as("com")))
    f.release(rt, p1rk, str2, bi2)
    composed
  }

  /** The q507 oracle's CTE chain up to `composed(n, com)` — the
    * two-level labels over the weighted projection — factored so
    * q508's connectivity audit unrolls the IDENTICAL label computation
    * before its own refinement CTEs. Also defines `gw` (the weighted
    * projection) and `m0(m)` (total weight) for downstream reuse. */
  /** The oracle's weighted parity-sweep unroll, shared by the q507
    * two-level chain and q509's Leiden chain. */
  private def sqlWeightedSweeps(lvl: String, bi: String, nd: String,
      l0: String, n: Int): String =
      (1 to n).map { r =>
        s"""${lvl}tot$r AS (SELECT com, CAST(sum(kn) AS BIGINT) AS tot
           |  FROM ${if (r == 1) l0 else s"$lvl${r - 1}"} l JOIN $nd USING (n) GROUP BY 1),
           |${lvl}knc$r AS (SELECT b.dst AS n, l.com, CAST(sum(b.w) AS BIGINT) AS k
           |  FROM $bi b JOIN ${if (r == 1) l0 else s"$lvl${r - 1}"} l ON b.src = l.n GROUP BY 1, 2),
           |${lvl}cand$r AS (SELECT n, com, max(k) AS k FROM (
           |    SELECT n, com, k FROM ${lvl}knc$r
           |    UNION ALL SELECT n, com, CAST(0 AS BIGINT) FROM ${if (r == 1) l0 else s"$lvl${r - 1}"}) GROUP BY 1, 2),
           |${lvl}sc$r AS (SELECT c.n, c.com,
           |    CAST(2 * m0.m AS HUGEINT) * c.k
           |      - CAST(t.tot - CASE WHEN c.com = cur.com THEN nd.kn ELSE 0 END AS HUGEINT) * nd.kn
           |      AS score
           |  FROM ${lvl}cand$r c JOIN $nd nd USING (n) JOIN ${lvl}tot$r t USING (com)
           |  JOIN ${if (r == 1) l0 else s"$lvl${r - 1}"} cur ON cur.n = c.n CROSS JOIN m0
           |  WHERE c.n % 2 = ${r % 2}),
           |$lvl$r AS MATERIALIZED (
           |  SELECT n, com FROM (
           |    SELECT n, com, row_number() OVER (PARTITION BY n ORDER BY score DESC, com) AS rn
           |    FROM ${lvl}sc$r) WHERE rn = 1
           |  UNION ALL
           |  SELECT n, com FROM ${if (r == 1) l0 else s"$lvl${r - 1}"} WHERE n % 2 <> ${r % 2})""".stripMargin
      }.mkString(",\n")

  /** The oracle's connectivity-refinement CTE block, shared by q508
    * (detector) and q509 (repair): components of `lbl`'s
    * intra-community edges via a recursive closure, emitted as
    * `${px}ref(n, part, com)` with part = component-minimum node id
    * (singletons fall back to their own id) — [[splitByComponents]]'s
    * exact semantics. */
  private def sqlRefineCtes(px: String, lbl: String): String =
    s"""${px}intra AS MATERIALIZED (SELECT gw.u, gw.v FROM gw
       |  JOIN $lbl lu ON gw.u = lu.n
       |  JOIN $lbl lv ON gw.v = lv.n
       |  WHERE lu.com = lv.com),
       |${px}bii AS (SELECT u AS a, v AS b FROM ${px}intra UNION ALL SELECT v, u FROM ${px}intra),
       |${px}reach(src, node) AS (
       |  SELECT DISTINCT a, a FROM ${px}bii
       |  UNION
       |  SELECT r.src, e.b FROM ${px}reach r JOIN ${px}bii e ON r.node = e.a),
       |${px}clbl AS MATERIALIZED (SELECT src AS n, min(node) AS part FROM ${px}reach GROUP BY src),
       |${px}ref AS MATERIALIZED (SELECT c.n, coalesce(cl.part, c.n) AS part, c.com
       |  FROM $lbl c LEFT JOIN ${px}clbl cl ON c.n = cl.n)""".stripMargin

  private def sqlTwoLevelLabelCtes: String = {
    def sweeps(lvl: String, bi: String, nd: String, l0: String, n: Int) =
      sqlWeightedSweeps(lvl, bi, nd, l0, n)
    s"""$sqlCoPurchaseWeightedCtes,
       |bi AS MATERIALIZED (SELECT u AS src, v AS dst, sup AS w FROM gw
       |  UNION ALL SELECT v, u, sup FROM gw),
       |nd AS MATERIALIZED (SELECT src AS n, CAST(sum(w) AS BIGINT) AS kn
       |  FROM bi GROUP BY 1),
       |m0 AS (SELECT CAST(sum(sup) AS BIGINT) AS m FROM gw),
       |a0 AS (SELECT n, n AS com FROM nd),
       |${sweeps("a", "bi", "nd", "a0", 4)},
       |rt AS MATERIALIZED (SELECT n AS c1, row_number() OVER (ORDER BY n) AS rk
       |  FROM (SELECT DISTINCT com AS n FROM a4)),
       |a4rk AS MATERIALIZED (SELECT a4.n, rt.rk AS com
       |  FROM a4 JOIN rt ON a4.com = rt.c1),
       |cge AS (SELECT lu.com AS cu, lv.com AS cv, gw.sup
       |  FROM gw JOIN a4rk lu ON gw.u = lu.n JOIN a4rk lv ON gw.v = lv.n),
       |e2 AS MATERIALIZED (SELECT least(cu, cv) AS u, greatest(cu, cv) AS v,
       |    CAST(sum(sup) AS BIGINT) AS sup
       |  FROM cge WHERE cu <> cv GROUP BY 1, 2),
       |selfw AS (SELECT cu AS n, CAST(sum(sup) AS BIGINT) AS lw
       |  FROM cge WHERE cu = cv GROUP BY 1),
       |bi2 AS MATERIALIZED (SELECT u AS src, v AS dst, sup AS w FROM e2
       |  UNION ALL SELECT v, u, sup FROM e2),
       |ext AS (SELECT src AS n, CAST(sum(w) AS BIGINT) AS s FROM bi2 GROUP BY 1),
       |nd2 AS MATERIALIZED (SELECT c.n,
       |    CAST(coalesce(ext.s, 0) + 2 * coalesce(selfw.lw, 0) AS BIGINT) AS kn
       |  FROM (SELECT DISTINCT com AS n FROM a4rk) c
       |  LEFT JOIN ext USING (n) LEFT JOIN selfw USING (n)),
       |b0 AS (SELECT n, n AS com FROM nd2),
       |${sweeps("b", "bi2", "nd2", "b0", 2)},
       |composed AS MATERIALIZED (SELECT p.n, rt2.c1 AS com
       |  FROM a4rk p JOIN b2 ON p.com = b2.n JOIN rt rt2 ON b2.com = rt2.rk)""".stripMargin
  }

  val q507 = QuerySpec(
    "q507_louvain_two_level",
    (s, d) => Frames.scoped { f =>
      val gw = persistedWeightedCoPurchase(f, s, d)
      modularityCensusWeighted(gw, louvainTwoLevelLabels(f, gw, 2))
    },
    Some(s"""WITH $sqlTwoLevelLabelCtes,
            |${sqlModularityCensusWeighted("composed")}""".stripMargin),
  )

  /** q508's audit pipeline, factored for edge tests (feed it ANY
    * partition — the bar-bell fixture hands it a merged disconnected
    * community directly): given the weighted projection `gw(u, v,
    * sup)` and a found partition `labels(n, com)`, split every
    * community into the CONNECTED COMPONENTS of its internal subgraph
    * ([[starContractLabels]] over the intra-community edges —
    * diameter-independent, the q506 algorithm; nodes with no internal
    * edge are their own singleton part, so part ids = min node id are
    * unique across communities) and report each community that is NOT
    * internally connected: member count, part count, largest part,
    * and the exact-ppm modularity GAIN from adopting the split
    * (refined parts keep every internal edge — components never cut
    * one — while the degree mass divides, so Q never loses; this is
    * the Leiden refinement's acceptance direction). The com = −1 row
    * totals the audit: members/parts across split communities, the
    * SPLIT-COMMUNITY COUNT in largest_part's seat, and the total Q
    * gain — all zeros is the connectivity-clean bill of health.
    * Scale: two gated label joins carve the intra edges, components
    * are O(log² n) edge-sized rounds, both censuses are label joins +
    * |communities|-row aggregates — nothing touches the corpus twice. */
  /** A partition's INTRA-community edges — both label attachments ride
    * the gated broadcast `mb`, so the corpus-sized edge frame never
    * pre-shuffles below the cap (pinned). Factored from
    * [[splitByComponents]] for the plan pin. */
  private[graft] def intraEdges(gw: org.apache.spark.sql.DataFrame,
      lbl: org.apache.spark.sql.DataFrame,
      mb: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import gw.sparkSession.implicits._
    gw.join(mb(lbl.select($"n".as("u"), $"com".as("cu"))), Seq("u"))
      .join(mb(lbl.select($"n".as("v"), $"com".as("cv"))), Seq("v"))
      .filter($"cu" === $"cv")
      .select($"u", $"v")
  }

  /** The CONNECTIVITY REFINEMENT shared by q508 (as a detector) and
    * q509 (as a repair step): split every community of `lbl(n, com)`
    * into the connected components of its internal subgraph
    * ([[starContractLabels]] over the intra edges — diameter-
    * independent; nodes with no internal edge become their own
    * singleton part). Part ids are component-minimum node ids —
    * unique across communities because components are disjoint node
    * sets, so the refined labeling is deterministic and
    * oracle-checkable. Returns (n, part, com), checkpointed in `f`. */
  private[graft] def splitByComponents(f: Frames, gw: DataFrame, lbl: DataFrame,
      mb: DataFrame => DataFrame, nodeBound: Long = -1L): DataFrame =
    splitByComponentsFrom(f, lbl, intraEdges(gw, lbl, mb), nodeBound)

  /** The refinement half of [[splitByComponents]] over an ALREADY
    * carved intra-community edge frame — factored (r13) for q508's
    * shared labeled pass. `nodeBound` ≥ 0 = the caller's label count,
    * an upper bound on the intra-subgraph's nodes (see
    * [[starContractLabels]]). */
  private[graft] def splitByComponentsFrom(f: Frames, lbl: DataFrame,
      intra: DataFrame, nodeBound: Long = -1L): DataFrame = {
    import lbl.sparkSession.implicits._
    val comps = starContractLabels(f, intra, nodeBound)
    val refined = f.checkpoint(lbl
      .join(comps.select($"node".as("n"), $"label"), Seq("n"), "left")
      .select($"n", coalesce($"label", $"n").as("part"), $"com"))
    f.release(comps)
    refined
  }

  /** q508's audit readout — Eager'd, so its frames live in a scope of
    * its own. */
  private[graft] def louvainConnectivityAudit(gw: DataFrame,
      labels: DataFrame): DataFrame = Frames.scoped { f =>
    import gw.sparkSession.implicits._
    val lbl = f.checkpoint(labels)
    val nLbl = lbl.count()
    val mb = maybeBroadcast(nLbl)
    // r13 (guide §2.4): ONE labeled-edge pass feeds both the
    // intra-community carve and the original-partition census — they
    // used to attach the same labels to the same edge frame twice. The
    // carve is the cu = cv slice; the census consumes (cu, cv, sup).
    val ge = f.checkpoint(gw
      .join(mb(lbl.select($"n".as("u"), $"com".as("cu"))), Seq("u"))
      .join(mb(lbl.select($"n".as("v"), $"com".as("cv"))), Seq("v"))
      .select($"u", $"v", $"sup", $"cu", $"cv"))
    val refined = splitByComponentsFrom(f, lbl,
      ge.filter($"cu" === $"cv").select($"u", $"v"), nLbl)
    val cenO = modularityCensusWeightedFromGe(gw, lbl.select($"n", $"com"),
      ge.select($"cu", $"cv", $"sup"))
    val cenR = modularityCensusWeighted(gw, refined.select($"n", $"part".as("com")))
    f.release(ge)
    val perPart = refined.select($"com", $"part").distinct()
      .join(cenR.filter($"com" =!= -1L)
        .select($"com".as("part"), $"n_members".as("psz"),
          $"contribution_ppm".as("cpart")), Seq("part"))
    val agg = perPart.groupBy($"com").agg(
      sum($"psz").as("n_members"),
      count(lit(1)).as("n_parts"),
      max($"psz").as("largest_part"),
      sum($"cpart").as("cref"))
    val split = agg
      .join(cenO.filter($"com" =!= -1L)
        .select($"com", $"contribution_ppm".as("corig")), Seq("com"))
      .filter($"n_parts" > 1)
      .select($"com", $"n_members", $"n_parts", $"largest_part",
        ($"cref" - $"corig").as("q_gain_ppm"))
    Eager(split.unionAll(split.agg(
        lit(-1L).as("com"),
        coalesce(sum($"n_members"), lit(0L)).as("n_members"),
        coalesce(sum($"n_parts"), lit(0L)).as("n_parts"),
        count(lit(1)).as("largest_part"),
        coalesce(sum($"q_gain_ppm"), lit(0L)).as("q_gain_ppm")))
      .orderBy($"com"))
  }

  /** q508 — CONNECTIVITY audit of the two-level Louvain partition (the
    * round-11 verdict's north-star ask #7: modularity ascent can leave
    * a community internally DISCONNECTED — a bridge node joins a
    * community and later moves away, stranding the two sides with no
    * internal path; the defect the Leiden algorithm exists to fix —
    * and the repo already owned the checker, [[starContractLabels]]
    * within each community): audits q507's found partition, reporting
    * every internally-disconnected community with its exact-ppm Q gain
    * from splitting, plus the com = −1 audit totals (all zeros =
    * clean). Completes the detector family the way q503 completed
    * q498: the optimizer's output is now itself quality-gated. Oracle:
    * the identical two-level label chain + a recursive-CTE component
    * refinement and the same integer census algebra. */
  val q508 = QuerySpec(
    "q508_louvain_connectivity_audit",
    (s, d) => Frames.scoped { f =>
      val gw = persistedWeightedCoPurchase(f, s, d)
      louvainConnectivityAudit(gw, louvainTwoLevelLabels(f, gw, 2))
    },
    Some(s"""WITH RECURSIVE $sqlTwoLevelLabelCtes,
            |intra AS MATERIALIZED (SELECT gw.u, gw.v FROM gw
            |  JOIN composed lu ON gw.u = lu.n
            |  JOIN composed lv ON gw.v = lv.n
            |  WHERE lu.com = lv.com),
            |bii AS (SELECT u AS a, v AS b FROM intra UNION ALL SELECT v, u FROM intra),
            |reach(src, node) AS (
            |  SELECT DISTINCT a, a FROM bii
            |  UNION
            |  SELECT r.src, e.b FROM reach r JOIN bii e ON r.node = e.a),
            |clbl AS MATERIALIZED (SELECT src AS n, min(node) AS part FROM reach GROUP BY src),
            |refined AS MATERIALIZED (SELECT c.n, coalesce(cl.part, c.n) AS part, c.com
            |  FROM composed c LEFT JOIN clbl cl ON c.n = cl.n),
            |geo AS MATERIALIZED (SELECT lu.com AS cu, lv.com AS cv, gw.sup
            |  FROM gw JOIN composed lu ON gw.u = lu.n JOIN composed lv ON gw.v = lv.n),
            |dgo AS (SELECT com, CAST(sum(sup) AS BIGINT) AS d FROM (
            |    SELECT cu AS com, sup FROM geo UNION ALL SELECT cv, sup FROM geo) GROUP BY com),
            |wio AS (SELECT cu AS com, CAST(sum(sup) AS BIGINT) AS w_in FROM geo WHERE cu = cv GROUP BY cu),
            |pco AS (SELECT dgo.com,
            |    CAST(CAST(coalesce(wio.w_in, 0) AS HUGEINT) * 1000000 // m AS BIGINT)
            |      - CAST(CAST(d AS HUGEINT) * d * 1000000 // (CAST(m AS HUGEINT) * m * 4) AS BIGINT)
            |      AS c_ppm
            |  FROM dgo LEFT JOIN wio USING (com) CROSS JOIN m0),
            |ger AS MATERIALIZED (SELECT lu.part AS cu, lv.part AS cv, gw.sup
            |  FROM gw JOIN refined lu ON gw.u = lu.n JOIN refined lv ON gw.v = lv.n),
            |dgr AS (SELECT part, CAST(sum(sup) AS BIGINT) AS d FROM (
            |    SELECT cu AS part, sup FROM ger UNION ALL SELECT cv, sup FROM ger) GROUP BY part),
            |wir AS (SELECT cu AS part, CAST(sum(sup) AS BIGINT) AS w_in FROM ger WHERE cu = cv GROUP BY cu),
            |pcr AS (SELECT dgr.part,
            |    CAST(CAST(coalesce(wir.w_in, 0) AS HUGEINT) * 1000000 // m AS BIGINT)
            |      - CAST(CAST(d AS HUGEINT) * d * 1000000 // (CAST(m AS HUGEINT) * m * 4) AS BIGINT)
            |      AS c_ppm
            |  FROM dgr LEFT JOIN wir USING (part) CROSS JOIN m0),
            |psz AS (SELECT com, part, CAST(count(*) AS BIGINT) AS psz FROM refined GROUP BY 1, 2),
            |ag AS (SELECT p.com, CAST(sum(p.psz) AS BIGINT) AS n_members,
            |    CAST(count(*) AS BIGINT) AS n_parts, CAST(max(p.psz) AS BIGINT) AS largest_part,
            |    CAST(sum(r.c_ppm) AS BIGINT) AS cref
            |  FROM psz p JOIN pcr r USING (part) GROUP BY 1),
            |spl AS MATERIALIZED (SELECT ag.com, n_members, n_parts, largest_part,
            |    CAST(cref - pco.c_ppm AS BIGINT) AS q_gain_ppm
            |  FROM ag JOIN pco USING (com)
            |  WHERE n_parts > 1)
            |SELECT com, n_members, n_parts, largest_part, q_gain_ppm FROM spl
            |UNION ALL
            |SELECT -1, coalesce(CAST(sum(n_members) AS BIGINT), 0),
            |  coalesce(CAST(sum(n_parts) AS BIGINT), 0), CAST(count(*) AS BIGINT),
            |  coalesce(CAST(sum(q_gain_ppm) AS BIGINT), 0)
            |FROM spl
            |ORDER BY com""".stripMargin),
  )

  /** q509's full pipeline, factored for edge tests: the LEIDEN
    * two-level shape (Traag, Waltman & van Eck 2019 — "From Louvain to
    * Leiden") over the weighted projection. Leiden's fix for the
    * disconnected-community defect is a REFINEMENT pass between
    * ascent and contraction: 4 weighted parity sweeps →
    * [[splitByComponents]] (refine₁: every level-1 community splits
    * into its internal connected components, so contraction operates
    * on connected super-nodes) → rank-remap → [[louvainContract]] →
    * `l2Rounds` sweeps on the super-graph → labels composed back (in
    * rank space — the ids only need consistency, the final refinement
    * relabels) → [[splitByComponents]] again (refine₂: the terminal
    * connectivity repair). Final community ids are component-minimum
    * node ids — deterministic, and the output is internally connected
    * BY CONSTRUCTION: [[louvainConnectivityAudit]] of this partition
    * is all-zeros on every graph (the edge test pins it), which is
    * exactly the guarantee the Leiden paper proves for its refinement
    * and the q508 audit exists to check. Simplifications vs the full
    * paper, documented: the ascent is our deterministic
    * semi-synchronous parity sweep (not randomized queue order), the
    * refinement is the connectivity split (not the randomized
    * constrained merge), and the hierarchy is two levels. Scale: q507's
    * loop discipline plus two O(log² n) component passes over
    * intra-community edges — every stage edge-sized or
    * |communities|-sized, labels through the gated broadcast. Returns
    * (n, com) over a checkpoint held by `f`. */
  private[graft] def leidenTwoLevelLabels(f: Frames, gw: DataFrame,
      l2Rounds: Int): DataFrame = {
    import gw.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val wTot = {
      val cell = gw.agg(sum($"sup")).head
      if (cell.isNullAt(0)) 0L else cell.getLong(0)
    }
    val p1 = louvainRoundsWeighted(f, gw, 4)
    val nNodes = p1.count()
    val mb = maybeBroadcast(nNodes)
    val r1 = splitByComponents(f, gw, p1, mb, nNodes)
    val rt = f.checkpoint(r1.select($"part".as("c1")).distinct()
      .withColumn("rk", row_number().over(Window.orderBy($"c1"))))
    // r13: checkpoint the rank-remapped labels (three references — see
    // [[louvainTwoLevelLabels]]) and release the refine₁ frame.
    val p1rk = f.checkpoint(r1.join(mb(rt), $"part" === $"c1")
      .select($"n", $"rk".as("com")))
    f.release(r1, rt)
    val (bi2, str2) = superGraph(f, gw, p1rk, mb)
    // r12: level-2 loop at the node-census-derived exchange width
    // (see [[louvainTwoLevelLabels]]).
    val (com2, _) = graft.Confs.withShufflePartitions(gw.sparkSession,
        graft.Confs.derivedWidth(gw.sparkSession, nNodes, 8)) {
      louvainLoop(f, l2Rounds,
        f.checkpoint(str2.select($"n", $"n".as("com"))),
        (com, r) => louvainSweepWeighted(bi2, str2, com, wTot, r, mb))
    }
    // r13: checkpoint the composed labels before the terminal
    // refinement — splitByComponents walks its label frame three times
    // (intra-edge carve + the left-join back), and each walk used to
    // replay the compose chain.
    val composed = f.checkpoint(p1rk
      .join(mb(com2.select($"n".as("com"), $"com".as("c2"))), Seq("com"))
      .select($"n", $"c2".as("com")))
    f.release(p1rk, str2, bi2)
    splitByComponents(f, gw, composed, mb, nNodes).select($"n", $"part".as("com"))
  }

  /** q509 — LEIDEN two-level community detection over the weighted
    * projection (the ladder's completion: q481 votes, q495/q504
    * ascend, q507 ascends hierarchically, q508 DETECTS the ascent's
    * connectivity defect — this one FIXES it): the two-level Louvain
    * shape with [[splitByComponents]] refinement before contraction
    * and after composition (see [[leidenTwoLevelLabels]]), then the
    * weighted modularity census whose com = −1 row IS the Leiden Q —
    * directly comparable to q507's over the same edges, with the
    * guarantee q507 lacks: every reported community is internally
    * connected (q508's audit of this output is all-zeros by
    * construction, pinned). Oracle: the same sweep unroll with the
    * recursive-closure refinement CTEs spliced in at both seams. */
  val q509 = QuerySpec(
    "q509_leiden_two_level",
    (s, d) => Frames.scoped { f =>
      val gw = persistedWeightedCoPurchase(f, s, d)
      modularityCensusWeighted(gw, leidenTwoLevelLabels(f, gw, 2))
    },
    Some(s"""WITH RECURSIVE $sqlCoPurchaseWeightedCtes,
            |bi AS MATERIALIZED (SELECT u AS src, v AS dst, sup AS w FROM gw
            |  UNION ALL SELECT v, u, sup FROM gw),
            |nd AS MATERIALIZED (SELECT src AS n, CAST(sum(w) AS BIGINT) AS kn
            |  FROM bi GROUP BY 1),
            |m0 AS (SELECT CAST(sum(sup) AS BIGINT) AS m FROM gw),
            |a0 AS (SELECT n, n AS com FROM nd),
            |${sqlWeightedSweeps("a", "bi", "nd", "a0", 4)},
            |${sqlRefineCtes("r1", "a4")},
            |rt AS MATERIALIZED (SELECT part AS c1, row_number() OVER (ORDER BY part) AS rk
            |  FROM (SELECT DISTINCT part FROM r1ref)),
            |a4rk AS MATERIALIZED (SELECT r.n, rt.rk AS com
            |  FROM r1ref r JOIN rt ON r.part = rt.c1),
            |cge AS (SELECT lu.com AS cu, lv.com AS cv, gw.sup
            |  FROM gw JOIN a4rk lu ON gw.u = lu.n JOIN a4rk lv ON gw.v = lv.n),
            |e2 AS MATERIALIZED (SELECT least(cu, cv) AS u, greatest(cu, cv) AS v,
            |    CAST(sum(sup) AS BIGINT) AS sup
            |  FROM cge WHERE cu <> cv GROUP BY 1, 2),
            |selfw AS (SELECT cu AS n, CAST(sum(sup) AS BIGINT) AS lw
            |  FROM cge WHERE cu = cv GROUP BY 1),
            |bi2 AS MATERIALIZED (SELECT u AS src, v AS dst, sup AS w FROM e2
            |  UNION ALL SELECT v, u, sup FROM e2),
            |ext AS (SELECT src AS n, CAST(sum(w) AS BIGINT) AS s FROM bi2 GROUP BY 1),
            |nd2 AS MATERIALIZED (SELECT c.n,
            |    CAST(coalesce(ext.s, 0) + 2 * coalesce(selfw.lw, 0) AS BIGINT) AS kn
            |  FROM (SELECT DISTINCT com AS n FROM a4rk) c
            |  LEFT JOIN ext USING (n) LEFT JOIN selfw USING (n)),
            |b0 AS (SELECT n, n AS com FROM nd2),
            |${sqlWeightedSweeps("b", "bi2", "nd2", "b0", 2)},
            |composed AS MATERIALIZED (SELECT p.n, b2.com
            |  FROM a4rk p JOIN b2 ON p.com = b2.n),
            |${sqlRefineCtes("r2", "composed")},
            |final AS MATERIALIZED (SELECT n, part AS com FROM r2ref),
            |${sqlModularityCensusWeighted("final")}""".stripMargin),
  )

  /** q485 — connected components of the co-purchase projection (the
    * CONNECTIVITY readout beside q481's density communities — LPA can
    * split a connected graph, components never do; comparing the two
    * is how an analyst tells "separate markets" from "one market with
    * dense pockets"): [[minLabel]]'s convergent min-propagation over
    * the projection, reported as one row per component (id = min
    * supplier key, node and edge census). Component ids are a unique
    * fixed point, so the oracle's recursive transitive-closure CTE
    * computes the identical labels; the closure is |component|-bounded
    * per node and the support-thresholded projection keeps components
    * dimension-sized. At 100 TB diameter grows past plain propagation
    * — minLabel's doc names the large-star/small-star switch. */
  /** q485's pipeline over an already-persisted projection, factored
    * for edge tests: minLabel components + per-component node/edge
    * census, Eager'd, so the labels live in a scope of their own. */
  private[graft] def componentCensus(g: DataFrame): DataFrame = Frames.scoped { f =>
    componentCensusFrom(g, minLabel(f, g.select(g("u").as("src"), g("v").as("dst"))))
  }

  /** The census half of [[componentCensus]], factored so q506 can feed
    * it star-contraction labels: one row per component (id = the label,
    * node and edge census), Eager'd. */
  private[graft] def componentCensusFrom(g: DataFrame, labels: DataFrame): DataFrame = {
    import g.sparkSession.implicits._
    val nodes = labels.groupBy($"label".as("component_id"))
      .agg(count(lit(1)).as("n_nodes"))
    // Edge census by the u endpoint's label — u and v always share a
    // component by construction.
    val edgesC = g
      .join(labels.select($"node".as("u"), $"label".as("component_id")), Seq("u"))
      .groupBy($"component_id").agg(count(lit(1)).as("n_edges"))
    Eager(nodes.join(edgesC, Seq("component_id")).orderBy($"component_id"))
  }

  val q485 = QuerySpec(
    "q485_copurchase_components",
    (s, d) => Frames.scoped { f =>
      Eager(componentCensus(persistedCoPurchase(f, s, d)))
    },
    Some(s"""WITH RECURSIVE $sqlCoPurchaseCtes,
            |bi AS (SELECT u AS a, v AS b FROM g UNION ALL SELECT v, u FROM g),
            |reach(src, node) AS (
            |  SELECT DISTINCT a, a FROM bi
            |  UNION
            |  SELECT r.src, e.b FROM reach r JOIN bi e ON r.node = e.a),
            |lbl AS (SELECT src, min(node) AS label FROM reach GROUP BY src),
            |nodes AS (SELECT label AS component_id, CAST(count(*) AS BIGINT) AS n_nodes
            |  FROM lbl GROUP BY 1),
            |ec AS (SELECT l.label AS component_id, CAST(count(*) AS BIGINT) AS n_edges
            |  FROM g JOIN lbl l ON g.u = l.src GROUP BY 1)
            |SELECT component_id, n_nodes, n_edges
            |FROM nodes JOIN ec USING (component_id)
            |ORDER BY component_id""".stripMargin),
  )

  /** One LARGE-STAR operation (Kiveris et al. 2014, "Connected
    * Components in MapReduce and Beyond"): every node u links each
    * STRICTLY LARGER neighbor to the minimum of its closed
    * neighborhood. Input/output are canonical (u > v) self-loop-free
    * edge frames; the node-sized min frame joins back through `mb`
    * (the gated broadcast — at 100 TB it shuffles). */
  private[graft] def largeStar(e: org.apache.spark.sql.DataFrame,
      mb: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import e.sparkSession.implicits._
    val bi = e.select($"u".as("src"), $"v".as("dst"))
      .unionAll(e.select($"v".as("src"), $"u".as("dst")))
    val mn = bi.groupBy($"src").agg(min($"dst").as("mnd"))
      .select($"src", least($"src", $"mnd").as("m"))
    bi.join(mb(mn), Seq("src"))
      .filter($"dst" > $"src")
      .select($"dst".as("u"), $"m".as("v"))
      .distinct()
  }

  /** One SMALL-STAR operation: every node (as the LARGER endpoint of
    * its edges) links its smaller neighbors — and itself — to their
    * collective minimum. Same canonical-frame contract as
    * [[largeStar]]. */
  private[graft] def smallStar(e: org.apache.spark.sql.DataFrame,
      mb: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import e.sparkSession.implicits._
    val mn = e.groupBy($"u".as("big")).agg(min($"v").as("m"))
    e.select($"u".as("big"), $"v".as("small"))
      .join(mb(mn), Seq("big"))
      .select($"small".as("u"), $"m".as("v"))
      .filter($"u" =!= $"v")
      .unionByName(mn.select($"big".as("u"), $"m".as("v")))
      .distinct()
  }

  /** Connected-component labels by alternating LARGE-STAR/SMALL-STAR
    * contraction — the O(log² n)-round algorithm [[minLabel]]'s doc
    * names as the 100 TB switch and q506 delivers: plain min-label
    * propagation pays one round per unit of component DIAMETER (a
    * diameter-10⁴ web-graph chain needs 10⁴ shuffles and would blow
    * the MaxIters guard), while star contraction halves path lengths
    * every pair of rounds regardless of diameter (Round11EdgeSpec pins
    * a 200-node path converging in a handful of rounds where
    * propagation's cap would fail). Both converge to the SAME unique
    * fixed point — every node labeled its component minimum — so the
    * two algorithms are interchangeable behind the census and share
    * q485's oracle. Per round: two edge-sized aggregates + two gated
    * node-frame joins, each round localCheckpoint'ed (the q477 rule);
    * convergence = the (count, Σu, Σv) probe unchanged across a full
    * large+small pair, which is exact because neither operation can
    * INCREASE any single edge's endpoint sum — an unchanged total
    * forces the multiset unchanged. Input: undirected self-loop-free
    * edges (u, v); output (node, label), a checkpoint held by `f`. */
  private[graft] def starContractLabels(f: Frames, edges: DataFrame,
      nodeBound: Long = -1L): DataFrame = {
    val ss = edges.sparkSession
    import ss.implicits._
    // r13: the canonicalizing distinct runs at the SESSION width (it is
    // edge-sized — the one frame here that can be corpus-scale), and the
    // contraction loop below runs at the node-census-derived width
    // (floor 8) instead of a pinned 8: identical locally (the census
    // picks the floor), cluster-wide on a billion-node graph.
    // A caller that already holds an UPPER BOUND on the node count
    // (q508/q509's refinement label census) passes it to skip the
    // distinct+count job; a bound only ever widens the loop or turns a
    // would-be broadcast into a shuffle — both scale-safe directions.
    val e0 = f.checkpoint(edges.filter($"u" =!= $"v")
      .select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
      .distinct(), eager = false)
    val nNodes =
      if (nodeBound >= 0L) nodeBound
      else e0.select($"u").unionAll(e0.select($"v")).distinct().count()
    graft.Confs.withShufflePartitions(ss, graft.Confs.derivedWidth(ss, nNodes, 8)) {
      var e = e0
      def probe(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
        val r = df.agg(count(lit(1)), sum($"u"), sum($"v")).head
        (r.getLong(0),
          if (r.isNullAt(1)) 0L else r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2))
      }
      val mb = maybeBroadcast(nNodes)
      var prev = probe(e)
      var iters = 0
      var converged = prev._1 == 0L
      // A failed round leaves its frames to `f`'s scope exit.
      while (!converged) {
        iters += 1
        require(iters <= MaxIters,
          s"star contraction did not converge in $MaxIters rounds")
        val next = f.checkpoint(smallStar(largeStar(e, mb), mb), eager = false)
        val cur = probe(next) // materializes next: e is dead
        f.release(e)
        e = next
        converged = cur == prev
        prev = cur
      }
      // At the fixed point the frame is a star forest: every edge points
      // a node at its component minimum; roots label themselves.
      val out = f.checkpoint(e.select($"u".as("node"), $"v".as("label"))
        .unionByName(e.select($"v".as("node"), $"v".as("label")))
        .distinct())
      // The labels checkpoint above is eager, so the fixed-point edge
      // frame is no longer needed — release it like every superseded
      // round's frame (the loop's own cleanup discipline).
      f.release(e)
      out
    }
  }

  /** q506 — connected components by STAR CONTRACTION over the
    * co-purchase projection (q485's census behind the
    * diameter-independent algorithm — the promised scale path made
    * code, see [[starContractLabels]]): identical output to q485 on
    * every graph, because min-label fixed points are unique — which is
    * exactly what makes the algorithm swap oracle-checkable. Scale:
    * O(log² n) rounds of two edge-sized aggregates; the census is the
    * shared [[componentCensusFrom]]. Oracle: q485's recursive
    * transitive-closure CTE. */
  val q506 = QuerySpec(
    "q506_components_star_contraction",
    (s, d) => Frames.scoped { f =>
      val g = persistedCoPurchase(f, s, d)
      Eager(componentCensusFrom(g, starContractLabels(f, g)))
    },
    Some(s"""WITH RECURSIVE $sqlCoPurchaseCtes,
            |bi AS (SELECT u AS a, v AS b FROM g UNION ALL SELECT v, u FROM g),
            |reach(src, node) AS (
            |  SELECT DISTINCT a, a FROM bi
            |  UNION
            |  SELECT r.src, e.b FROM reach r JOIN bi e ON r.node = e.a),
            |lbl AS (SELECT src, min(node) AS label FROM reach GROUP BY src),
            |nodes AS (SELECT label AS component_id, CAST(count(*) AS BIGINT) AS n_nodes
            |  FROM lbl GROUP BY 1),
            |ec AS (SELECT l.label AS component_id, CAST(count(*) AS BIGINT) AS n_edges
            |  FROM g JOIN lbl l ON g.u = l.src GROUP BY 1)
            |SELECT component_id, n_nodes, n_edges
            |FROM nodes JOIN ec USING (component_id)
            |ORDER BY component_id""".stripMargin),
  )

  /** q486 — common-neighbor link strength over the co-purchase
    * projection (the classic link-prediction / edge-embeddedness
    * readout: an edge whose endpoints share many neighbors is inside a
    * community; one with none is a bridge — the weak-tie screen run
    * before recommending across it): for every projection edge, the
    * count of common neighbors (= triangles through the edge) and the
    * neighborhood Jaccard in exact ppm, top 20 strongest. Shape: one
    * edge⋈adjacency join fanned by the u endpoint's degree, re-capped
    * by a semi-join on v's adjacency — never a neighborhood×
    * neighborhood cross — plus the broadcast node-sized degree frame;
    * nullif guards the isolated-edge denominator (an edge whose
    * endpoints have no OTHER neighbors: Jaccard undefined, NULL). */
  /** q486's pipeline over an already-persisted projection, factored
    * for edge tests (isolated edge → NULL, bridge → 0, triangle edge
    * → 10⁶). The LAZY readout reads [[edgeSupport]]'s oriented list,
    * checkpointed in `f`. */
  private[graft] def commonNeighborStrength(f: Frames, g: DataFrame): DataFrame = {
    import g.sparkSession.implicits._
    val deg = g.select($"u".as("n")).unionAll(g.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
    edgeSupport(f, g)
      .join(broadcast(deg.select($"n".as("u"), $"deg".as("du"))), Seq("u"))
      .join(broadcast(deg.select($"n".as("v"), $"deg".as("dv"))), Seq("v"))
      .select($"u", $"v", $"cn", $"du", $"dv",
        expr("cn * 1000000L div nullif(du + dv - 2 - cn, 0L)")
          .as("jaccard_ppm"))
      .orderBy($"jaccard_ppm".desc_nulls_last, $"u", $"v")
      .limit(20)
  }

  /** The per-edge triangle-support frame shared by q486 (readout) and
    * q487 (peeling): (u, v, cn) for EVERY edge of `g`, cn = common
    * neighbors = triangles through the edge, 0-filled for edges in no
    * triangle. Edge⋈adjacency fan re-capped by a semi-join — never a
    * neighborhood×neighborhood cross. The oriented list is
    * checkpointed in `f`; the support frame itself stays LAZY: q486
    * pipelines it straight into its top-20 readout (an extra
    * materialization was measured as a ~3% loss) and q487's peel loop
    * checkpoints it itself. */
  private[graft] def edgeSupport(f: Frames, g: DataFrame): DataFrame = {
    import g.sparkSession.implicits._
    // Degree-ordered triangle ENUMERATION (q476's orientation with the
    // triple kept): each triangle is found once as its unique oriented
    // wedge + closing semi-check, then exploded into its three
    // id-ordered edges and counted per edge. On the dense projection
    // this is decisively cheaper than fanning every edge by a full
    // endpoint adjacency (Σ C(outdeg,2) wedges, outdeg bounded by the
    // SMALLER endpoint's degree, vs Σ deg(u) edge-neighbor rows).
    //
    // r12 (guide §3.1): the oriented list is CHECKPOINTED once (it was
    // re-derived for each of its three join references) and the
    // two-path + closing-probe build sides ride the gated broadcast —
    // below [[BroadcastRowCap]] the wedge join and the semi probe need
    // NO exchange or sort at all (checkpointed RDD frames carry no
    // stats, so the planner otherwise sort-merges both); past the cap
    // the joins keep their shuffled shape. Interleaved A/B at sf0.1:
    // ~6.9 s → ~3.8 s per edgeSupport pass.
    val mb = maybeBroadcast(g.count())
    val deg = g.select($"u".as("n")).unionAll(g.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
    val du = struct($"du", $"u")
    val dv = struct($"dv", $"v")
    val or = f.checkpoint(g
      .join(broadcast(deg.select($"n".as("u"), $"deg".as("du"))), Seq("u"))
      .join(broadcast(deg.select($"n".as("v"), $"deg".as("dv"))), Seq("v"))
      .select(when(du < dv, $"u").otherwise($"v").as("lo"),
        when(du < dv, $"v").otherwise($"u").as("hi")))
    val tri = or.as("e1")
      .join(mb(or.select($"lo".as("hi"), $"hi".as("z"))).as("e2"), Seq("hi"))
      .select($"lo".as("x"), $"hi".as("y"), $"z")
      .join(mb(or.select($"lo".as("x"), $"hi".as("z"))), Seq("x", "z"), "left_semi")
    val cn = tri.select(explode(array(
        struct(least($"x", $"y").as("u"), greatest($"x", $"y").as("v")),
        struct(least($"y", $"z").as("u"), greatest($"y", $"z").as("v")),
        struct(least($"x", $"z").as("u"), greatest($"x", $"z").as("v")))).as("e"))
      .select($"e.u", $"e.v")
      .groupBy($"u", $"v").agg(count(lit(1)).as("cn"))
    g.join(cn, Seq("u", "v"), "left").na.fill(0L, Seq("cn"))
  }

  /** q487's peel loop, factored for edge tests: exactly `rounds`
    * synchronized 4-truss peels — drop every edge supported by fewer
    * than 2 triangles, repeat — returning the surviving edge frame and
    * the total removed-edge count.
    *
    * Support is ENUMERATED once and then maintained INCREMENTALLY:
    * removing round t's victim edges kills exactly the G_t triangles
    * that contain one, so only the alive edges of those dying
    * triangles change support. Each later round therefore costs one
    * victim⋈adjacency join (O(|victims|·degree) rows) plus a
    * broadcast decrement — never a re-enumeration. The naive loop
    * re-ran the full degree-ordered wedge join per round; on the
    * dense sf0.1 projection (78k edges, round 1 peels ~105) that was
    * up to 4 full enumerations for rounds that touch <1% of edges,
    * and at 100 TB the gap is the whole job. Every round's support
    * frame is localCheckpoint'ed (three self-references per round;
    * the q477 lineage rule). The surviving frame is held by `f`. */
  private[graft] def trussPeel(f: Frames, g0: DataFrame, rounds: Int)
      : (DataFrame, Long) = {
    import g0.sparkSession.implicits._
    val g = f.checkpoint(g0)
    // r13 (ADVICE): the enumeration's oriented list is dead once the
    // support frame is checkpointed, so it lives in a scope of its own.
    var sup = Frames.scoped(enumeration => f.checkpoint(edgeSupport(enumeration, g)))
    var removed = 0L
    var fixed = false
    for (_ <- 1 to rounds if !fixed) {
      val victims = sup.filter($"cn" < 2).select($"u", $"v")
      val r = victims.count()
      // Fixpoint early-exit: a round that removes nothing leaves the
      // frame bit-identical, so the remaining rounds cannot change
      // anything — the oracle's fixed-round unroll reaches the same
      // frame through no-op rounds.
      if (r == 0L) fixed = true
      else {
        removed += r
        // Victim/decrement frames broadcast only while SMALL: round 1
        // routinely peels a large fraction of the edge list (every
        // support<2 edge), and at the 100 TB scale an unconditional
        // broadcast of that fraction exceeds driver/broadcast limits.
        // Past BroadcastRowCap the same joins run as shuffles — the
        // victim count is on the driver for free from the fixpoint
        // check, so the switch costs nothing (the shared helper; same
        // gate as the minLabel/louvain/PageRank loops).
        val mbv = maybeBroadcast(r)
        // Dying triangles of the CURRENT graph: a victim (a, b)
        // closes a triangle with every w adjacent to BOTH endpoints —
        // w comes off a's adjacency (bi), membership of (b, w) is a
        // semi-join against the current edge frame (victims included:
        // a G_t triangle may carry two victims and must still count
        // ONCE for its surviving edge, hence the id-sorted distinct).
        val bi = sup.select($"u".as("src"), $"v".as("dst"))
          .unionAll(sup.select($"v".as("src"), $"u".as("dst")))
        val tri = bi
          .join(mbv(victims.select($"u".as("src"), $"v".as("b"))), Seq("src"))
          .filter($"dst" =!= $"b")
          .select($"src".as("a"), $"b", $"dst".as("w"))
          .join(sup.select($"u", $"v"),
            least($"b", $"w") === $"u" && greatest($"b", $"w") === $"v",
            "left_semi")
          .select(array_sort(array($"a", $"b", $"w")).as("t"))
          .select($"t"(0).as("x"), $"t"(1).as("y"), $"t"(2).as("z"))
          .distinct()
        // The components are id-sorted, so the three edges are
        // (x,y), (y,z), (x,z) with u < v for free.
        val dec = tri.select(explode(array(
            struct($"x".as("u"), $"y".as("v")),
            struct($"y".as("u"), $"z".as("v")),
            struct($"x".as("u"), $"z".as("v")))).as("e"))
          .select($"e.u", $"e.v")
          .groupBy($"u", $"v").agg(count(lit(1)).as("dec"))
        val prevSup = sup
        sup = f.checkpoint(sup.filter($"cn" >= 2)
          .join(mbv(dec), Seq("u", "v"), "left")
          .select($"u", $"v", ($"cn" - coalesce($"dec", lit(0L))).as("cn")))
        f.release(prevSup)
      }
    }
    (sup.select($"u", $"v"), removed)
  }

  /** q487 — 4-truss peeling over the co-purchase projection (the
    * EDGE-level cohesion core beside q477's node-level 3-core: an edge
    * survives only while ≥2 triangles run through it, so bridges and
    * weak ties peel away even between high-degree nodes — the
    * community-core screen k-core is too coarse for): 4 synchronized
    * rounds (both engines run exactly 4; a fixpoint reached early makes
    * the rest no-ops), reporting surviving edges/nodes and edges
    * removed. Support is enumerated once ([[edgeSupport]]) and then
    * maintained incrementally through the peel rounds ([[trussPeel]]:
    * only triangles dying through a victim edge are re-touched),
    * localCheckpoint'ed per the q477 lineage rule; the oracle replays
    * the peel as 4 chained full-recompute MATERIALIZED CTE rounds —
    * same unique fixed point. */
  val q487 = QuerySpec(
    "q487_ktruss_peeling",
    (s, d) => Frames.scoped { f =>
      import s.implicits._
      val (g, removed) = trussPeel(f, coPurchaseEdges(f.persist(tradeEdges(s, d))), 4)
      val core = g.select($"u".as("n")).unionAll(g.select($"v".as("n")))
        .distinct().agg(count(lit(1)).as("core_nodes"))
      Eager(g.agg(count(lit(1)).as("core_edges"))
        .crossJoin(broadcast(core))
        .select($"core_nodes", $"core_edges",
          lit(removed).as("n_removed")))
    },
    Some {
      val peel = (1 to 4).map { r =>
        s"""bi$r AS (SELECT u AS src, v AS dst FROM g${r - 1}
           |  UNION ALL SELECT v, u FROM g${r - 1}),
           |cn$r AS (SELECT g0r.u, g0r.v, CAST(count(*) AS BIGINT) AS cn
           |  FROM g${r - 1} g0r JOIN bi$r a ON g0r.u = a.src AND a.dst <> g0r.v
           |  WHERE EXISTS (SELECT 1 FROM bi$r b WHERE b.src = g0r.v AND b.dst = a.dst)
           |  GROUP BY 1, 2),
           |g$r AS MATERIALIZED (SELECT g0r.u, g0r.v FROM g${r - 1} g0r
           |  JOIN cn$r c ON g0r.u = c.u AND g0r.v = c.v
           |  WHERE c.cn >= 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH $sqlCoPurchaseCtes,
         |g0 AS MATERIALIZED (SELECT u, v FROM g),
         |$peel,
         |core AS (SELECT CAST(count(DISTINCT n) AS BIGINT) AS core_nodes FROM (
         |  SELECT u AS n FROM g4 UNION ALL SELECT v FROM g4)),
         |ce AS (SELECT CAST(count(*) AS BIGINT) AS core_edges FROM g4),
         |ne0 AS (SELECT count(*) AS n FROM g0),
         |ne4 AS (SELECT count(*) AS n FROM g4)
         |SELECT core_nodes, core_edges,
         |  CAST(ne0.n - ne4.n AS BIGINT) AS n_removed
         |FROM core CROSS JOIN ce CROSS JOIN ne0 CROSS JOIN ne4""".stripMargin
    },
  )

  val q486 = QuerySpec(
    "q486_common_neighbor_strength",
    (s, d) => Frames.scoped { f =>
      Eager(commonNeighborStrength(f, persistedCoPurchase(f, s, d)))
    },
    Some(s"""WITH $sqlCoPurchaseCtes,
            |bi AS (SELECT u AS src, v AS dst FROM g UNION ALL SELECT v, u FROM g),
            |deg AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS deg FROM bi GROUP BY 1),
            |cn AS (SELECT g.u, g.v, CAST(count(*) AS BIGINT) AS cn
            |  FROM g JOIN bi a ON g.u = a.src AND a.dst <> g.v
            |  WHERE EXISTS (SELECT 1 FROM bi b WHERE b.src = g.v AND b.dst = a.dst)
            |  GROUP BY 1, 2)
            |SELECT g.u, g.v, coalesce(cn.cn, 0) AS cn, du.deg AS du, dv.deg AS dv,
            |  CAST(coalesce(cn.cn, 0) * 1000000
            |    // nullif(du.deg + dv.deg - 2 - coalesce(cn.cn, 0), 0) AS BIGINT) AS jaccard_ppm
            |FROM g LEFT JOIN cn ON g.u = cn.u AND g.v = cn.v
            |JOIN deg du ON g.u = du.n JOIN deg dv ON g.v = dv.n
            |ORDER BY jaccard_ppm DESC NULLS LAST, g.u, g.v LIMIT 20""".stripMargin),
  )

  /** q489 — INCREMENTAL maintenance of the co-purchase projection (the
    * q379/q316 delta discipline applied to the graph artifact all of
    * q476–q487 consume — at 100 TB you never rebuild the projection
    * from scratch when a day of orders lands): the epoch-0 pair-count
    * frame is the maintained artifact; when epoch-1 orders arrive, only
    * AFFECTED customers (those with a new order) have their basket
    * contributions subtracted at their old state and re-added at their
    * new one — pair counts are additive per customer
    * ([[basketPairCounts]]), so everyone else's contribution is never
    * recomputed. This is exact even under the subtle cap case: a new
    * low-id supplier can EVICT an old one from a customer's 16-basket,
    * silently deleting pairs the append never mentioned — the
    * subtract/re-add absorbs it (Round9EdgeSpec pins that fixture).
    * Readout: the re-thresholded projection's census + an exact
    * integer checksum over (edge, support) — the ≡-rebuild proof the
    * oracle computes from scratch over ALL orders. Scale: the delta
    * touches |affected customers|' edges, epoch volume, not corpus
    * volume; the merge is one aggregate over v1 ∪ deltas. */
  val q489 = QuerySpec(
    "q489_incremental_projection",
    (s, d) => Frames.scoped { f =>
      import s.implicits._
      val li = graft.Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey")
      val ord = graft.Tables.orders(s, d)
        .select($"o_orderkey", $"o_custkey", $"o_orderdate")
      def edgesOf(o: org.apache.spark.sql.DataFrame) =
        li.join(o, $"l_orderkey" === $"o_orderkey")
          .select($"o_custkey".as("cust"), $"l_suppkey".as("supp")).distinct()
      val o0 = ord.filter($"o_orderdate" < "2001-01-01")
      val o1 = ord.filter($"o_orderdate" >= "2001-01-01")
      // v1: the maintained epoch-0 artifact.
      val v1 = f.persist(basketPairCounts(edgesOf(o0.select($"o_orderkey", $"o_custkey"))))
      val affected = o1.select($"o_custkey".as("cust")).distinct()
      val e0A = edgesOf(o0.select($"o_orderkey", $"o_custkey"))
        .join(affected, Seq("cust"), "left_semi")
      val e1 = edgesOf(o1.select($"o_orderkey", $"o_custkey"))
      // r12 (guide §2.3/§2.4): the delta used to run basketPairCounts
      // TWICE over overlapping edge sets — once over e0A (negative
      // pass) and once over e0A ∪ e1 (positive pass, with e0A
      // recomputed under it and an extra distinct) — ~6 exchanges.
      // An affected customer's OLD basket and FULL basket come out of
      // ONE tagged pass instead: dedup (cust, supp) across epochs
      // keeping the is-epoch-0 flag, then per customer the bounded
      // 16-smallest baskets ([[graft.functions.BottomKLongAgg]] — the
      // basketPairCounts cap discipline; the old side rides a
      // Long.MaxValue sentinel for non-epoch-0 rows, stripped after,
      // so one aggregate caps both lists) and the in-row ±pair emit.
      // k-smallest-by-supp ≡ the rn <= 16 cap, so +pairs(full₁₆)
      // −pairs(old₁₆) sums to exactly what the two projection passes
      // computed, support by support.
      def pairsArr(a: String, d: Long) = expr(
        s"""CASE WHEN size($a) >= 2 THEN
           |  flatten(transform(sequence(0, size($a)-2),
           |    i -> transform(sequence(i+1, size($a)-1),
           |      j -> struct($a[i] AS u, $a[j] AS v, ${d}L AS d))))
           |ELSE CAST(array() AS ARRAY<STRUCT<u: BIGINT, v: BIGINT, d: BIGINT>>)
           |END""".stripMargin)
      val baskets = e0A.select($"cust", $"supp", lit(1).as("old"))
        .unionByName(e1.select($"cust", $"supp", lit(0).as("old")))
        .groupBy($"cust", $"supp").agg(max($"old").as("old"))
        .groupBy($"cust").agg(
          graft.functions.BottomKLongAgg.bottomKLong($"supp", 16).as("fs"),
          // Sentinel domain assumption (ADVICE r12): no real suppkey
          // may ever equal Long.MaxValue, or the strip below would
          // delete a genuine epoch-0 basket member. True for TPC-H
          // surrogate keys (dense small positives); revisit if the
          // key space ever becomes hashed/synthetic.
          graft.functions.BottomKLongAgg.bottomKLong(when($"old" === 1, $"supp")
            .otherwise(lit(Long.MaxValue)), 16).as("os0"))
        .withColumn("os", filter($"os0", x => x =!= lit(Long.MaxValue)))
      val delta = baskets
        .select(explode(concat(pairsArr("fs", 1L), pairsArr("os", -1L))).as("p"))
        .select($"p.u", $"p.v", $"p.d")
      // r12: v2 feeds BOTH the node census and the edge readout —
      // checkpoint it so the maintained-projection merge runs once,
      // not twice (same missed-reuse the q501 fix closes).
      val v2 = f.checkpoint(v1.select($"u", $"v", $"sup".as("d"))
        .unionAll(delta)
        .groupBy($"u", $"v").agg(sum($"d").as("sup"))
        .filter($"sup" >= 8))
      val nodes = v2.select($"u".as("n")).unionAll(v2.select($"v".as("n")))
        .distinct().agg(count(lit(1)).as("n_nodes"))
      Eager(v2.agg(count(lit(1)).as("n_edges"),
          sum($"sup").as("sup_sum"),
          sum(($"u" * 131071L + $"v") * $"sup").as("chk"))
        .crossJoin(broadcast(nodes))
        .select($"n_nodes", $"n_edges", $"sup_sum", $"chk"))
    },
    // From-scratch projection over ALL orders — maintained ≡ rebuilt,
    // down to per-edge supports via the exact checksum.
    Some("""WITH ed AS (
           |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |capped AS (SELECT cust, supp FROM (
           |    SELECT cust, supp, row_number() OVER (PARTITION BY cust ORDER BY supp) AS rn
           |    FROM ed) WHERE rn <= 16),
           |g AS (SELECT u, v, sup FROM (
           |    SELECT a.supp AS u, b.supp AS v, count(*) AS sup
           |    FROM capped a JOIN capped b ON a.cust = b.cust AND a.supp < b.supp
           |    GROUP BY 1, 2) WHERE sup >= 8),
           |nodes AS (SELECT CAST(count(DISTINCT n) AS BIGINT) AS n_nodes FROM (
           |  SELECT u AS n FROM g UNION ALL SELECT v FROM g))
           |SELECT (SELECT n_nodes FROM nodes) AS n_nodes,
           |  CAST(count(*) AS BIGINT) AS n_edges,
           |  CAST(sum(sup) AS BIGINT) AS sup_sum,
           |  CAST(sum((u * 131071 + v) * sup) AS BIGINT) AS chk
           |FROM g""".stripMargin),
  )

  /** One multi-source BFS expansion round, factored so PlanAuditSpec
    * can pin its shape: the frontier and visited sides BROADCAST onto
    * the persisted symmetric closure (frontier ≪ edges, the BFS norm —
    * q226's rule), so the edge list never re-shuffles across rounds;
    * the anti join keeps first-visit (= minimal) distances only. */
  private[graft] def bfsRound(
      bi: org.apache.spark.sql.DataFrame,
      frontier: org.apache.spark.sql.DataFrame,
      best: org.apache.spark.sql.DataFrame,
      dist: Int): org.apache.spark.sql.DataFrame = {
    import bi.sparkSession.implicits._
    bi.join(broadcast(frontier.select($"seed", $"node".as("src"))), Seq("src"))
      .select($"seed", $"dst".as("node")).distinct()
      .join(broadcast(best.select($"seed", $"node")), Seq("seed", "node"),
        "left_anti")
      .select($"seed", $"node", lit(dist.toLong).as("dist"))
  }

  /** q490's pipeline over an already-persisted projection, factored
    * for edge tests: harmonic centrality of the top-`k` hubs by
    * (degree, id) via one multi-source BFS, `rounds` hops deep —
    * Eager'd, so its checkpoints live in a scope of their own. */
  private[graft] def harmonicFromHubs(g: DataFrame, k: Int, rounds: Int)
      : DataFrame = Frames.scoped { f =>
    import g.sparkSession.implicits._
    // localCheckpoint, not persist: the symmetric closure sits under
    // EVERY round's plan, and each round's frame also references the
    // union of all previous rounds — with lazy lineage the round-r
    // logical tree grows ~3^r copies of the projection build and
    // planning itself dwarfs execution (the q477 k-core lesson,
    // re-observed here: round 3 spent 11 s PLANNING 40 rows). The
    // checkpoint also materializes the projection at the session's
    // full shuffle width, outside the narrowed loop scope below.
    val bi = f.checkpoint(g.select($"u".as("src"), $"v".as("dst"))
      .unionAll(g.select($"v".as("src"), $"u".as("dst"))))
    graft.Confs.withShufflePartitions(g.sparkSession, 8) {
      val deg = f.checkpoint(bi.groupBy($"src".as("n")).agg(count(lit(1)).as("deg")))
      // Deterministic seed pick: (deg, n) is a total order (node ids
      // are unique), so top-k is engine-independent.
      val seeds = f.checkpoint(deg.orderBy($"deg".desc, $"n").limit(k)
        .select($"n".as("seed"), $"deg".as("seed_deg")))
      val seed0 = f.checkpoint(
        seeds.select($"seed", $"seed".as("node"), lit(0L).as("dist")))
      // q226's BFS discipline, multi-source: the frontier is keyed
      // (seed, node) so all k sources ride ONE edge join per round;
      // frontier/visited sides broadcast (k × component-size rows),
      // the checkpointed closure never re-shuffles. Every round frame
      // is checkpointed, so `best` is a union of flat leaves.
      var roundFrames = List(seed0)
      var frontier = seed0
      for (i <- 1 to rounds) {
        val best = roundFrames.reduce(_ unionByName _)
        val nxt = f.checkpoint(bfsRound(bi, frontier, best, i))
        roundFrames = nxt :: roundFrames
        frontier = nxt
      }
      // Scaling constant derived FROM the hop cap (not hardcoded — the
      // r09 shape took `rounds` as a parameter but baked in 12 while
      // only dist ≤ 3 could reach it, silently floor-dividing for any
      // deeper call): lcm(12, 1..rounds) is divisible by every
      // reachable dist, so the summed readout is exact integers at ANY
      // rounds; folding in the contract's 12 keeps rounds ≤ 4 on the
      // q490 column name (harmonic_x12) it has always had.
      def gcd(a: Long, b: Long): Long = if (b == 0L) a else gcd(b, a % b)
      val scale = (1L to rounds.toLong).foldLeft(12L)((a, b) => a / gcd(a, b) * b)
      Eager(roundFrames.reduce(_ unionByName _)
        .filter($"dist" > 0)
        .groupBy($"seed")
        .agg(count(lit(1)).as("n_reached"),
          sum(expr(s"${scale}L div dist")).as(s"harmonic_x$scale"),
          sum($"node").as("node_checksum"))
        .join(broadcast(seeds), Seq("seed"))
        .select($"seed", $"seed_deg", $"n_reached", col(s"harmonic_x$scale"),
          $"node_checksum")
        .orderBy($"seed"))
    }
  }

  /** q490 — harmonic centrality of the projection's top-8 hubs (the
    * GEODESIC centrality beside q126's random-walk PageRank and q448's
    * HITS: how CLOSE a supplier sits to the rest of the market through
    * co-purchase ties, not how heavy its neighborhood is; HARMONIC
    * (Σ 1/d) rather than classic closeness because it stays defined
    * when the hop horizon or a component boundary leaves nodes
    * unreached — absent terms instead of a poisoned mean): seeds =
    * top-8 nodes by (degree, id), one multi-source BFS over the
    * symmetric closure, 3 hops. The 1/d readout is exact twelfths
    * (d ∈ {1,2,3} → 12/6/4; lcm scaling, no float division — q435's
    * integer discipline). Scale: rounds move O(frontier·degree) rows
    * (q226's property); at a 100 TB edge list the per-source frontier
    * is component-bounded and the hop cap is the cost governor, the
    * same "within k handoffs" bound a production centrality sweep
    * ships with. Oracle: recursive CTE from the same seeds —
    * first-visit distance is minimal by BFS invariant, so both
    * engines land on the unique fixed point. */
  val q490 = QuerySpec(
    "q490_harmonic_centrality",
    (s, d) => Frames.scoped { f =>
      harmonicFromHubs(persistedCoPurchase(f, s, d), 8, 3)
    },
    Some(s"""WITH RECURSIVE $sqlCoPurchaseCtes,
            |bi AS MATERIALIZED (SELECT u AS src, v AS dst FROM g
            |  UNION ALL SELECT v, u FROM g),
            |deg AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS deg
            |  FROM bi GROUP BY 1),
            |seeds AS MATERIALIZED (SELECT n AS seed FROM deg
            |  ORDER BY deg DESC, n LIMIT 8),
            |bfs(seed, node, dist) AS (
            |  SELECT seed, seed, 0 FROM seeds
            |  UNION
            |  SELECT b.seed, e.dst, b.dist + 1
            |  FROM bfs b JOIN bi e ON e.src = b.node WHERE b.dist < 3),
            |best AS (SELECT seed, node, min(dist) AS dist
            |  FROM bfs GROUP BY 1, 2)
            |SELECT seed, d.deg AS seed_deg,
            |  CAST(count(*) AS BIGINT) AS n_reached,
            |  CAST(sum(12 // dist) AS BIGINT) AS harmonic_x12,
            |  CAST(sum(node) AS BIGINT) AS node_checksum
            |FROM best JOIN deg d ON d.n = best.seed
            |WHERE dist > 0
            |GROUP BY 1, 2 ORDER BY 1""".stripMargin),
  )

  val all: Seq[QuerySpec] =
    Seq(q59, q94, q126, q148, q226, q304, q310, q378, q435, q448, q454,
      q476, q477, q478, q481, q485, q486, q487, q489, q490, q495, q497,
      q504, q506, q507, q508, q509)
}
