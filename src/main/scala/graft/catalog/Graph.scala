package graft
package catalog

import org.apache.spark.sql.functions._

import graft.operators._
import Shared._

/** Catalog family — graph algorithms: PageRank variants, label
  * propagation, k-core, BFS, shortest paths, triangles. */
object Graph {

  // lazy: the private helpers below must be initialized first
  lazy val gates: Seq[Gate] = Seq(
    Gate("q137_triangles", (s, dir) => {
      // GRAPH SHAPE of the near-dup pair set: exact edge, wedge and
      // triangle counts + global clustering coefficient over q63's
      // simhash graph. Triangles by DEGREE-ORIENTED join (Chiba–
      // Nishizeki / MR node-iterator++): orient every edge from the
      // (degree, id)-smaller endpoint to the larger, then wedge-join
      // oriented edges and close against the oriented edge set. The
      // total order makes the orientation acyclic, so each triangle
      // matches the pattern u→v, v→w, u→w exactly once — and oriented
      // out-degree is O(sqrt(m)), so the wedge intermediate is
      // O(m^1.5) worst-case instead of the O(sum deg²) an id-oriented
      // join pays on hub-skewed graphs. Wedges from the degree sum —
      // exact integers; the one division is a fixed-order double op.
      val pairs = simhashPairs(s, dir)
      val e = pairs.select("doc_a", "doc_b")
      val deg = e.select(col("doc_a").as("n"))
        .unionByName(e.select(col("doc_b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val withDeg = e
        .join(deg.select(col("n").as("doc_a"), col("d").as("da")), "doc_a")
        .join(deg.select(col("n").as("doc_b"), col("d").as("db")), "doc_b")
      val oriented = withDeg.select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("doc_a") < col("doc_b")),
          col("doc_a")).otherwise(col("doc_b")).as("u"),
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("doc_a") < col("doc_b")),
          col("doc_b")).otherwise(col("doc_a")).as("v"))
        .localCheckpoint() // three consumers of one small edge list
      val tri = oriented.as("e1")
        .join(oriented.as("e2"), col("e1.v") === col("e2.u"))
        .join(oriented.as("e3"),
          col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
        .agg(count(lit(1)).as("n_triangles"))
      val wedges = deg.agg(
        // sum exact longs FIRST, halve once (product is even, sum
        // < 2^53 -> the double halving is exact) — never sum doubles
        (sum(col("d") * (col("d") - 1)) / lit(2)).cast("long").as("n_wedges"))
      val edges = e.agg(count(lit(1)).as("n_edges"))
      val out = edges.crossJoin(wedges).crossJoin(tri)
        .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
          when(col("n_wedges") === 0, lit(0.0))
            .otherwise(lit(3.0) * col("n_triangles") / col("n_wedges"))
            .as("global_clustering"))
        .localCheckpoint()
      oriented.unpersist() // pairs stays persisted (memo-owned)
      out
    },
      // exact triangle/wedge/edge counts over the same pair SQL; the
      // lone division is a fixed-order double op of exact integers
      s"""WITH pairs AS ($simhash64PairsSql),
         |e AS (SELECT doc_a, doc_b FROM pairs),
         |tri AS (SELECT count(*)::BIGINT AS n_triangles FROM e e1
         |  JOIN e e2 ON e1.doc_b = e2.doc_a
         |  JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
         |deg AS (SELECT n, count(*)::BIGINT AS d FROM (
         |  SELECT doc_a AS n FROM e UNION ALL SELECT doc_b FROM e) t
         |  GROUP BY n),
         |w AS (SELECT CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS n_wedges FROM deg),
         |ed AS (SELECT count(*)::BIGINT AS n_edges FROM e)
         |SELECT ed.n_edges, w.n_wedges, tri.n_triangles,
         |  CASE WHEN w.n_wedges = 0 THEN 0.0
         |       ELSE 3.0 * tri.n_triangles / w.n_wedges END AS global_clustering
         |FROM ed, w, tri""".stripMargin),
    Gate("q156_pagerank", (s, dir) => {
      // PAGERANK over the supplier→customer trade graph (who do the
      // important buyers buy from): 10 fixed power iterations at
      // d=0.85, each iteration ROUNDED to 12 dp on both engines —
      // rank mass sums are order-sensitive doubles (hard rule 9), and
      // per-iteration rounding pins the trajectory exactly (values
      // ~1e-3, ulp noise ~1e-18, a million-fold margin). Dangling
      // nodes (customers, no out-edges) simply leak mass — the
      // documented simple variant, identical on both engines. Each
      // round is one join + one aggregate; lineage cut per round
      // (localCheckpoint — the iterative-DataFrame discipline of
      // Components). The oracle replays all 10 iterations from
      // generated k-block SQL, every CTE materialized (rule 11).
      val edges = tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("src"),
          (col("o_custkey") + 1000000L).as("dst"))
      PageRank.run(edges, "src", "dst", iters = 10, damping = 0.85)
    },
      pageRankSql),
    Gate("q157_personalized_pagerank", (s, dir) => {
      // PERSONALIZED PageRank (random walk with restart) over q156's
      // trade graph: the teleport vector concentrates on every tenth
      // supplier — proximity-to-seeds importance, the graph-retrieval
      // / recommendation variant. Same determinism contract as q156
      // (per-iteration 12-dp rounding); the oracle replays all 10
      // seeded iterations from generated materialized CTE blocks.
      val edges = tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("src"),
          (col("o_custkey") + 1000000L).as("dst"))
      // seeds from the supplier TABLE, not from `edges` — a
      // seeds-from-edges frame would re-run the lineitem⋈orders join
      // a second time at init (the r11 q157-vs-q156 +1.1 s gap).
      // Identical seed set: FK gives l_suppkey ⊆ s_suppkey, dst ids
      // live in a disjoint +1000000 space, and PageRank drops seeds
      // absent from the graph via the nodes join anyway.
      val seeds = tbl(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("node"))
        .where(col("node") % 10 === 0)
      PageRank.personalized(edges, "src", "dst", seeds,
        iters = 10, damping = 0.85)
    },
      pprSql),
    Gate("q162_weighted_pagerank", (s, dir) => {
      // WEIGHTED PageRank over the nation-level trade graph (buyer
      // nation → supplier nation): a contribution is the edge's share
      // of the source's total out-FLOW (`w / Σ_src w`), so rank
      // follows trade volume, not link count — the "rank suppliers by
      // flow" variant. Weights are l_quantity sums: integer-valued
      // doubles, so every weight and out-weight total is EXACT under
      // any partitioning (order-invariant integer sums); the mass sum
      // stays order-sensitive and the q156 per-iteration 12-dp
      // rounding pins the trajectory. Oracle: the same generated
      // materialized k-block replay, with `r * w / wsum` mass.
      val edges = tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(tbl(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("c_nationkey").as("src"),
          col("s_nationkey").as("dst"),
          col("l_quantity").as("w"))
      PageRank.weighted(edges, "src", "dst", "w",
        iters = 10, damping = 0.85)
    },
      weightedPrSql),
    Gate("q163_converged_pagerank", (s, dir) => {
      // CONVERGENCE-STOPPED weighted PageRank (residual early stop
      // with a fixed cap): iterate until `max |r_i - r_{i-1}| <
      // 1e-9`, cap 15, over q162's weighted nation flow graph. The
      // residual is the MAX-norm over per-node diffs of 12-dp-rounded
      // ranks — max is order-INVARIANT, so the stop iteration is
      // deterministic with no extra rounding, and the static oracle
      // replays it: all 15 blocks materialized, one residual row per
      // step, `min(i) FILTER (d < eps)` picks the same iteration the
      // Spark loop stopped at. The dense weighted graph mixes at the
      // weight-fluctuation scale (|λ2| ≪ damping), so the early stop
      // genuinely engages at a non-trivial iteration (unweighted
      // would be degenerate here: the complete nation graph reaches
      // its stationary point in one step).
      val edges = tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(tbl(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("c_nationkey").as("src"),
          col("s_nationkey").as("dst"),
          col("l_quantity").as("w"))
      PageRank.converged(edges, "src", "dst",
        maxIters = 15, eps = 1e-9, damping = 0.85,
        weightCol = Some("w"))
    },
      convergedPrSql),
    Gate("q167_label_propagation", (s, dir) => {
      // COMMUNITY DETECTION over the shared near-dup pair graph
      // (q63/q96/q131/q137's fifth consumer): 4 synchronous
      // label-propagation rounds, every node adopting its neighbors'
      // most frequent label with ties to the LOWEST — all-integer
      // arithmetic under total-order tiebreaks, so the oracle replays
      // the trajectory as a generated CTE chain with no rounding
      // contract. Communities refine q96's components (a community
      // never crosses a component wall); singleton docs label
      // themselves, like q96.
      val docs = tbl(s, dir, "documents")
      val pairs = simhashPairs(s, dir)
      val lp = LabelPropagation.run(pairs, "doc_a", "doc_b", iters = 4)
      val lab = docs.select(col("doc_id"))
        .join(lp, col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("lbl"), col("doc_id")).as("community_id"))
      val sizes = lab.groupBy("community_id")
        .agg(count(lit(1)).as("community_size"))
      // materialize before releasing the checkpointed label frame
      val out = lab.join(sizes, "community_id")
        .select(col("doc_id"), col("community_id"), col("community_size"))
        .localCheckpoint()
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(lp)
      out
    },
      labelPropSql),
    Gate("q171_kcore", (s, dir) => {
      // 5-CORE of the supplier↔customer trade graph (q156's edges,
      // undirected): iterative peeling deletes every party whose
      // current partner count drops below 5 until the fixpoint —
      // thin-fringe customers peel first, their suppliers' degrees
      // cascade down, and what survives is the densely-interconnected
      // trading core. The k-core is the unique maximal
      // min-degree-≥-k subgraph (peel-order independent), all-integer
      // rounds, so the oracle replays the capped peel as a generated
      // CTE chain; idempotence past the fixpoint keeps the
      // fixed-block replay exact even when Spark's loop exits early.
      val edges = tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("src"),
          (col("o_custkey") + 1000000L).as("dst"))
      KCore.run(edges, "src", "dst", k = 5, maxRounds = 10)
    },
      kCoreSql),
    Gate("q190_bfs_distances", (s, dir) => {
      // MULTI-SOURCE BFS: exact hop distance from the nearest seeded
      // supplier over the undirected supplier↔customer trade graph
      // (q156's edges) — the graph-proximity primitive (blast radius,
      // "within k hops of a flagged account"). Level-synchronous
      // frontier expansion capped at 4 hops; pure set algebra, so the
      // result is deterministic at any parallelism and DuckDB replays
      // it as a recursive CTE with min-distance folding. Edge list
      // checkpointed SHUFFLED once (the PageRank discipline) — each
      // round moves only the frontier.
      val edges = tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("src"),
          (col("o_custkey") + 1000000L).as("dst"))
      val seeds = tbl(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("node"))
        .where(col("node") % 10 === 0)
      Bfs.distances(edges, "src", "dst", seeds, maxDist = 4)
    },
      bfsSql),
    Gate("q196_shortest_paths", (s, dir) => {
      // WEIGHTED SHORTEST PATHS (capped Bellman–Ford, 4 legs): the
      // min-COST companion to q190's min-HOP BFS over the same
      // undirected trade graph — edge weight = the lineitem quantity
      // (parallel edges pre-min'd), so dist = the cheapest ≤4-leg
      // route from any seeded supplier. Integer min/add rounds are
      // exact and order-free; the oracle replays every round as a
      // materialized CTE block (the LPA pattern). Edge list
      // checkpointed SHUFFLED once; each round moves only the
      // distance frame.
      val edges = tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("src"),
          (col("o_custkey") + 1000000L).as("dst"),
          round(col("l_quantity")).cast("long").as("w"))
      val seeds = tbl(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("node"))
        .where(col("node") % 10 === 0)
      Sssp.distances(edges, "src", "dst", "w", seeds, rounds = 4)
    },
      ssspSql)
  )

  /** q167's oracle: the 4-round synchronous LPA trajectory replayed
    * as a generated CTE chain over the SAME pair SQL — per round,
    * each node's neighbor-label histogram picked by (count DESC,
    * label ASC) row_number; all-integer, no rounding contract.
    * Singletons label themselves via the LEFT join, as q96. */
  private def labelPropSql: String = {
    val k = 4
    val header =
      s"""WITH pairs AS MATERIALIZED ($simhash64PairsSql),
         |e AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM e)""".stripMargin
    val blocks = (1 to k).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT e.u AS node, l.lbl, count(*) AS c,
         |      row_number() OVER (PARTITION BY e.u
         |        ORDER BY count(*) DESC, l.lbl) AS rn
         |    FROM e JOIN l${i - 1} l ON e.v = l.node
         |    GROUP BY e.u, l.lbl) WHERE rn = 1)""".stripMargin
    }
    val tail =
      s"""lab AS MATERIALIZED (
         |  SELECT d.doc_id, coalesce(l.lbl, d.doc_id) AS community_id
         |  FROM documents d LEFT JOIN l$k l ON d.doc_id = l.node),
         |sz AS (SELECT community_id, count(*) AS n FROM lab
         |  GROUP BY community_id)
         |SELECT lab.doc_id, lab.community_id, sz.n::BIGINT AS community_size
         |FROM lab JOIN sz USING (community_id)""".stripMargin
    (header +: blocks).mkString(",\n") + ",\n" + tail
  }

  /** q171's oracle: the capped k-core peel (k = 5, the `k` constant
    * below — keep this doc and that tuple in sync) replayed as a generated
    * CTE chain over the SAME pair SQL — each round keeps nodes with
    * degree ≥ k and edges whose BOTH endpoints survive; idempotent
    * past the fixpoint, so the fixed block count matches Spark's
    * early-exit loop. */
  private def kCoreSql: String = {
    val (k, rounds) = (5, 10)
    val header =
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e0 AS MATERIALIZED (SELECT src AS u, dst AS v FROM pairs
         |  UNION SELECT dst, src FROM pairs)""".stripMargin
    val blocks = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT u FROM e${i - 1}
         |  GROUP BY u HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (SELECT a.u, a.v FROM e${i - 1} a
         |  JOIN k$i x ON a.u = x.u JOIN k$i y ON a.v = y.u)""".stripMargin
    }
    (header +: blocks).mkString(",\n") +
      s"\nSELECT u AS node, count(*)::BIGINT AS core_degree" +
      s"\nFROM e$rounds GROUP BY u"
  }

  /** q190's oracle: BFS distance = min level at which recursive
    * expansion (capped at 4 hops — the recursion guard mirrors the
    * operator's round cap) reaches the node; UNION dedups (node,
    * level) pairs so the recursion terminates. */
  private def bfsSql: String =
    """WITH RECURSIVE ch AS (SELECT l_suppkey AS src,
      |    o_custkey + 1000000 AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |e AS (SELECT DISTINCT src, dst FROM (
      |  SELECT src, dst FROM ch UNION ALL SELECT dst, src FROM ch)),
      |seeds AS (SELECT s_suppkey AS node FROM supplier
      |  WHERE s_suppkey % 10 = 0),
      |bfs(node, d) AS (
      |  SELECT node, 0 FROM seeds
      |  UNION
      |  SELECT e.dst, b.d + 1 FROM bfs b JOIN e ON e.src = b.node
      |  WHERE b.d < 4)
      |SELECT node, min(d)::BIGINT AS dist FROM bfs GROUP BY node""".stripMargin

  /** q196's oracle: the 4-round Bellman–Ford trajectory replayed as
    * a materialized CTE chain (each round references its predecessor
    * TWICE — hard rule 11) — integer min/add, exact. */
  private def ssspSql: String = {
    val k = 4
    val header =
      """WITH ch AS MATERIALIZED (SELECT l_suppkey AS s0,
        |    o_custkey + 1000000 AS d0, round(l_quantity)::BIGINT AS w0
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS MATERIALIZED (SELECT src, dst, min(w) AS w FROM (
        |  SELECT s0 AS src, d0 AS dst, w0 AS w FROM ch
        |  UNION ALL SELECT d0, s0, w0 FROM ch) GROUP BY src, dst),
        |d0 AS MATERIALIZED (SELECT s_suppkey AS node, 0::BIGINT AS dist
        |  FROM supplier WHERE s_suppkey % 10 = 0)""".stripMargin
    val blocks = (1 to k).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, min(dist)::BIGINT AS dist
         |  FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d.dist + e.w AS dist
         |    FROM d${i - 1} d JOIN e ON e.src = d.node)
         |  GROUP BY node)""".stripMargin
    }
    (header +: blocks).mkString(",\n") +
      s"\nSELECT node, dist FROM d$k"
  }

  /** q156's oracle: all 10 PageRank iterations replayed as generated
    * materialized CTE blocks (the bpeSql pattern). Every float
    * literal carries ::DOUBLE (rule 11), every iteration rounds to
    * 12 dp exactly like the Spark loop — the order-sensitive mass
    * sums sit a million-fold inside the rounding boundary. */
  private def pageRankSql: String = {
    val header =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |st AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes),
        |od AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS deg
        |  FROM e GROUP BY src),
        |pr0 AS MATERIALIZED (SELECT node, round(1.0::DOUBLE / st.n, 12) AS r
        |  FROM nodes CROSS JOIN st)""".stripMargin
    val blocks = (1 to 10).map { i =>
      s"""pr$i AS MATERIALIZED (
         |  SELECT nd.node, round(0.15::DOUBLE / st.n +
         |      0.85::DOUBLE * coalesce(c.mass, 0.0::DOUBLE), 12) AS r
         |  FROM nodes nd CROSS JOIN st LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.r / od.deg) AS mass
         |    FROM e JOIN pr${i - 1} p ON e.src = p.node
         |    JOIN od ON od.src = e.src GROUP BY e.dst) c
         |    ON c.node = nd.node)""".stripMargin
    }
    (header +: blocks).mkString(",\n") + "\nSELECT node, r FROM pr10"
  }

  /** q157's oracle: the seeded (personalized) replay — teleport mass
    * concentrates on `src % 10 = 0` suppliers, denominator = seed
    * count, non-seed base term 0. Same materialized k-block shape. */
  private def pprSql: String = {
    val header =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |nodes AS MATERIALIZED (SELECT node,
        |    max(CASE WHEN node % 10 = 0 AND is_src THEN 1 ELSE 0 END) = 1
        |      AS is_seed
        |  FROM (SELECT src AS node, true AS is_src FROM e
        |        UNION ALL SELECT dst, false FROM e) GROUP BY node),
        |st AS MATERIALIZED (
        |  SELECT sum(CASE WHEN is_seed THEN 1 ELSE 0 END)::DOUBLE AS n
        |  FROM nodes),
        |od AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS deg
        |  FROM e GROUP BY src),
        |pr0 AS MATERIALIZED (SELECT node, is_seed,
        |    round(CASE WHEN is_seed THEN 1.0::DOUBLE / st.n
        |               ELSE 0.0::DOUBLE END, 12) AS r
        |  FROM nodes CROSS JOIN st)""".stripMargin
    val blocks = (1 to 10).map { i =>
      s"""pr$i AS MATERIALIZED (
         |  SELECT nd.node, nd.is_seed,
         |    round(CASE WHEN nd.is_seed THEN 0.15::DOUBLE / st.n
         |               ELSE 0.0::DOUBLE END +
         |      0.85::DOUBLE * coalesce(c.mass, 0.0::DOUBLE), 12) AS r
         |  FROM nodes nd CROSS JOIN st LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.r / od.deg) AS mass
         |    FROM e JOIN pr${i - 1} p ON e.src = p.node
         |    JOIN od ON od.src = e.src GROUP BY e.dst) c
         |    ON c.node = nd.node)""".stripMargin
    }
    (header +: blocks).mkString(",\n") + "\nSELECT node, r FROM pr10"
  }

  /** q162's oracle: the weighted replay — mass = `r * w / wsum` over
    * the nation trade graph, weights = l_quantity sums (exact
    * integer-valued doubles). Same materialized k-block shape. */
  private def weightedPrSql: String = {
    val header =
      """WITH e AS MATERIALIZED (
        |  SELECT c_nationkey AS src, s_nationkey AS dst,
        |    sum(l_quantity) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |st AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes),
        |ow AS MATERIALIZED (SELECT src, sum(w) AS wsum
        |  FROM e GROUP BY src),
        |pr0 AS MATERIALIZED (SELECT node, round(1.0::DOUBLE / st.n, 12) AS r
        |  FROM nodes CROSS JOIN st)""".stripMargin
    val blocks = (1 to 10).map { i =>
      s"""pr$i AS MATERIALIZED (
         |  SELECT nd.node, round(0.15::DOUBLE / st.n +
         |      0.85::DOUBLE * coalesce(c.mass, 0.0::DOUBLE), 12) AS r
         |  FROM nodes nd CROSS JOIN st LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.r * e.w / ow.wsum) AS mass
         |    FROM e JOIN pr${i - 1} p ON e.src = p.node
         |    JOIN ow ON ow.src = e.src GROUP BY e.dst) c
         |    ON c.node = nd.node)""".stripMargin
    }
    (header +: blocks).mkString(",\n") + "\nSELECT node, r FROM pr10"
  }

  /** q163's oracle: all `maxIters` WEIGHTED blocks materialized (the
    * q162 mass), one MAX-norm residual row per step (max of per-node
    * |diff| of 12-dp-rounded ranks — order-invariant, no extra
    * rounding), then `min(i) FILTER (d < eps)` picks the same
    * iteration the Spark loop stopped at (cap if none clears). */
  private def convergedPrSql: String = {
    val k = 15
    val header =
      """WITH e AS MATERIALIZED (
        |  SELECT c_nationkey AS src, s_nationkey AS dst,
        |    sum(l_quantity) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |st AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes),
        |ow AS MATERIALIZED (SELECT src, sum(w) AS wsum
        |  FROM e GROUP BY src),
        |pr0 AS MATERIALIZED (SELECT node, round(1.0::DOUBLE / st.n, 12) AS r
        |  FROM nodes CROSS JOIN st)""".stripMargin
    val blocks = (1 to k).map { i =>
      s"""pr$i AS MATERIALIZED (
         |  SELECT nd.node, round(0.15::DOUBLE / st.n +
         |      0.85::DOUBLE * coalesce(c.mass, 0.0::DOUBLE), 12) AS r
         |  FROM nodes nd CROSS JOIN st LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.r * e.w / ow.wsum) AS mass
         |    FROM e JOIN pr${i - 1} p ON e.src = p.node
         |    JOIN ow ON ow.src = e.src GROUP BY e.dst) c
         |    ON c.node = nd.node)""".stripMargin
    }
    val resid =
      "dd AS MATERIALIZED (\n" + (1 to k).map { i =>
        s"""  SELECT $i AS i, max(abs(a.r - b.r)) AS d
           |  FROM pr$i a JOIN pr${i - 1} b ON a.node = b.node""".stripMargin
      }.mkString("\n  UNION ALL\n") + ")"
    val chosen =
      s"""ch AS MATERIALIZED (SELECT coalesce(
         |  min(i) FILTER (WHERE d < (1e-9)::DOUBLE), $k) AS k FROM dd)""".stripMargin
    val allp =
      "ap AS (\n" + (1 to k).map(i =>
        s"  SELECT $i AS i, node, r FROM pr$i").mkString("\n  UNION ALL\n") + ")"
    (header +: blocks :+ resid :+ chosen :+ allp).mkString(",\n") +
      "\nSELECT ap.node, ap.r, ch.k::BIGINT AS iters_run" +
      "\nFROM ap JOIN ch ON ap.i = ch.k"
  }
}
