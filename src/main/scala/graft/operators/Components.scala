package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components — the clustering step that turns
  * near-dup PAIRS (q25/q54/q63/q44 output) into dedup CLUSTERS, so a
  * corpus pipeline can keep one canonical document per group of
  * mutual near-duplicates (cluster id = the component's minimum doc
  * id, the same keeper rule as q43's exact dedup).
  *
  * Algorithm: alternating LARGE-STAR / SMALL-STAR contractions
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) — each round is two {aggregate + join} passes over the
  * edge set, and the edge set contracts toward one star per
  * component in O(log n) rounds REGARDLESS of graph diameter. The
  * obvious alternative (per-node min-label propagation) needs
  * O(diameter) rounds — fine for the dense, tiny-diameter clusters
  * banding produces, but a single long chain in a 100 TB corpus
  * would stall it; star contraction is the shape that cannot.
  *
  * Both star steps are expressed as one neighbor-min aggregate joined
  * back to the (symmetrized) edges — no collect_list of neighbor
  * arrays, so a hub node with millions of neighbors costs a shuffle
  * group, not an executor-memory array.
  *
  * The fixpoint (stars (v, min-of-component)) is UNIQUE, so results
  * are deterministic under any partitioning or iteration overshoot —
  * the property that lets the DuckDB oracle re-derive components by
  * recursive min-reachability (q96).
  *
  * The operator is eager (driver-side iteration to a fixpoint,
  * CLAUDE.md multi-consumer convention): each round's edge set is
  * persisted MEMORY_AND_DISK, the previous round's unpersisted, and
  * the returned label frame stays persisted (caller-owned).
  */
object Components {

  /** Edge-count threshold below which [[connectedComponents]] runs a
    * driver union-find instead of the distributed iteration: each
    * star-contraction round costs ~6 job launches + 2 shuffles, which
    * DOMINATES small graphs (a near-dup pair set is orders of
    * magnitude smaller than its corpus — thousands of pairs at 600k
    * docs). 2M edges ≈ 32 MB collected; above it, star contraction. */
  val driverEdgeCap: Long = 2000000L

  /** Connected components over an edge list. Returns one row per
    * node that appears in `edges`: (node, component), component =
    * the minimum node id in the connected component. Nodes with no
    * edges don't appear (LEFT-join + coalesce on the caller side —
    * a doc with no near-dup pair is its own singleton cluster).
    *
    * HYBRID execution: the canonicalized edge set is counted once;
    * at or below [[driverEdgeCap]] it collects and a min-root
    * union-find labels it in memory (identical fixpoint — component
    * = min node id — so the choice is invisible to results and
    * oracle); above the cap, the O(log n)-round star contraction
    * below. Both return the label frame persisted (caller-owned). */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, driverCap: Long = driverEdgeCap): DataFrame = {
    val canon0 = edges
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint()
    val n = canon0.count()
    if (n <= driverCap) {
      val spark = edges.sparkSession
      val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      def find(x: Long): Long = {
        var r = x
        while ({ val p = parent.get(r); p != null && p.longValue != r })
          r = parent.get(r).longValue
        var c = x
        while ({ val p = parent.get(c); p != null && p.longValue != r }) {
          val nx = parent.get(c).longValue; parent.put(c, r); c = nx
        }
        r
      }
      val vertices = scala.collection.mutable.LinkedHashSet[Long]()
      canon0.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        vertices += a; vertices += b
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val rows = vertices.toSeq.map(v => org.apache.spark.sql.Row(v, find(v)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("component",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val out = spark.createDataFrame(
        spark.sparkContext.parallelize(rows,
          math.max(1, rows.size / 500000 + 1)), schema)
        .localCheckpoint()
      canon0.unpersist()
      out
    } else {
      val out = contractToFixpoint(canon0, maxIter)
      canon0.unpersist()
      out
    }
  }

  /** The distributed path: alternating large-star/small-star
    * contraction to the unique fixpoint (see object scaladoc). Input
    * must already be canonicalized (u < v, distinct, checkpointed). */
  private def contractToFixpoint(canon0: DataFrame,
      maxIter: Int): DataFrame = {
    // Each round MUST cut lineage (localCheckpoint), not merely cache:
    // persisted-only iteration stacks the full join/agg plan per round
    // and the analyzer/optimizer cost grows exponentially — the
    // standard iterative-DataFrame trap (GraphFrames checkpoints the
    // same way). localCheckpoint trades fault-tolerance of the
    // intermediate for speed; on a production cluster with a
    // checkpoint dir configured, swap for reliable checkpoint().
    var e = canon0

    // order-independent edge-set fingerprint: count + XOR of per-edge
    // hashes (bit_xor never overflows, unlike a SUM under ANSI mode)
    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u.
    // small-star(u): over edges directed larger→smaller (v ≤ u):
    //   m = min(N≤(u) ∪ {u}); emit (v, m) for v ∈ N≤(u) and (u, m).
    // Both re-canonicalized (u < v, no self-loops, distinct).
    def canon(df: DataFrame): DataFrame = df
      .where(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      .distinct()

    def largeStar(cur: DataFrame): DataFrame = {
      val sym = cur.select(col("u").as("n"), col("v").as("nb"))
        .unionByName(cur.select(col("v").as("n"), col("u").as("nb")))
      val mins = sym.groupBy("n").agg(min(col("nb")).as("mn"))
        .select(col("n"), least(col("mn"), col("n")).as("m"))
      canon(sym.join(mins, "n")
        .where(col("nb") > col("n"))
        .select(col("nb").as("x"), col("m").as("y")))
    }

    def smallStar(cur: DataFrame): DataFrame = {
      // canonical (u < v): the larger endpoint is v, its ≤-neighbors
      // are the u's — group by v
      val mins = cur.groupBy("v").agg(min(col("u")).as("m"))
      val leaves = cur.join(mins, "v")
        .select(col("u").as("x"), col("m").as("y"))
      val centers = mins.select(col("v").as("x"), col("m").as("y"))
      canon(leaves.unionByName(centers))
    }

    var prev = checksum(e)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      val cs = checksum(next)
      e.unpersist()
      e = next
      converged = cs == prev
      prev = cs
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // fixpoint edges are stars (v, component-min): labels = leaves + centers
    val labels = e.select(col("v").as("node"), col("u").as("component"))
      .unionByName(e.select(col("u").as("node"), col("u").as("component")))
      .distinct()
      .localCheckpoint() // eager; also detaches from e's blocks
    e.unpersist()
    labels
  }
}
