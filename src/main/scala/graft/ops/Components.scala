package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over an undirected edge list.
  *
  * The training-data use case: verified near-duplicate PAIRS (q27/q44)
  * only say "a looks like b"; curation needs the transitive CLUSTER —
  * {a,b,c} is one duplicate group even if (a,c) never collided in any
  * LSH band. Pairs -> components -> keep min-id per component is the
  * standard final step of a dedup pipeline (the reference's Roaring
  * bitmaps play the same "one id set per group" role for extract
  * regions, `src/extract.cpp:149-151`).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the
  * published O(log^2 n)-round MapReduce formulation. Each half-round is
  * one aggregation (per-node min neighbor) plus one join (re-point
  * edges at that min), i.e. two shuffles; no per-round growth in edge
  * count (edges only ever re-point toward smaller ids).
  *
  * Scale notes (100 TB design):
  *   - the driver-size rule is the one [[Closure]], [[BitmapSemi]] and
  *     `applyBatch` use: the canonical edge set is collected by
  *     [[DriverBudget.collectUnder]] when its binary rows total at most
  *     `maxBytes` ([[BitmapSemi.MaxBytes]], 32 MiB: 1,398,101 edges of
  *     24 bytes), and a driver-side union-find labels it (dedup graphs
  *     are sparse — pairs surviving jaccard-verify are a tiny fraction
  *     of the corpus); over the cap the collect ships nothing past a
  *     partition's share and the star loop runs;
  *   - every round is localCheckpoint()ed: lineage would otherwise
  *     double per iteration and re-execute the whole LSH pipeline each
  *     round;
  *   - convergence is detected by a one-pass (count, xor-of-hash)
  *     aggregate over the canonicalized edge set — no except()/join
  *     against the previous round's edges.
  */
object Components {

  /** Safety bound on the number of star rounds. */
  val MaxIters: Int = 25

  /** Component label per node: `id` -> `component` where component is
    * the MINIMUM node id reachable from `id` (EVERY node present in
    * `edges` gets a label, including one whose only edge is a
    * self-loop; callers union in singletons absent from the edge
    * list). Input columns `aCol`/`bCol` are LONG node ids; edges are
    * treated as undirected and may contain duplicates or self-loops.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxBytes: Long = BitmapSemi.MaxBytes): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // self-loops are KEPT through the dedup (a node whose only edge is
    // (x,x) is still "present in edges" and must come back labeled
    // x -> x); the star loop excludes them, so it splits them off
    val eAll = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the one collect decides the path and feeds the union-find; the
    // persist keeps the edges for the star loop when they do not fit
    DriverBudget.collectUnder(eAll, maxBytes) match {
      case Some(rows) =>
        eAll.unpersist(blocking = false)
        unionFind(rows).toSeq.toDF("id", "component")
      case None => starLoop(eAll)
    }
  }

  /** Driver union-find (path-halving) over the collected canonical
    * edges. All-primitive: node ids are mapped to dense ints via one
    * sorted long array + binary search, and union-find runs over an
    * Array[Int] — no boxed HashMap (the round-7 33.7s q57 was the boxed
    * version at 1.7M edges). */
  private def unionFind(rows: Array[Row]): Array[(Long, Long)] = {
    val n = rows.length
    val eu = new Array[Long](n); val ev = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = rows(i); eu(i) = r.getLong(0); ev(i) = r.getLong(1)
      i += 1
    }
    // sorted distinct node ids (primitive sort + in-place unique)
    val all = new Array[Long](2 * n)
    System.arraycopy(eu, 0, all, 0, n)
    System.arraycopy(ev, 0, all, n, n)
    java.util.Arrays.sort(all)
    var m = 0
    i = 0
    while (i < all.length) {
      if (m == 0 || all(i) != all(m - 1)) { all(m) = all(i); m += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, m)
    val parent = Array.tabulate(m)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    i = 0
    while (i < n) {
      // ids is ascending, so smaller index == smaller node id:
      // union toward the smaller index and the root IS the min id
      val ra = find(java.util.Arrays.binarySearch(ids, eu(i)))
      val rb = find(java.util.Arrays.binarySearch(ids, ev(i)))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
      i += 1
    }
    val out = new Array[(Long, Long)](m)
    i = 0
    while (i < m) { out(i) = (ids(i), ids(find(i))); i += 1 }
    out
  }

  /** Large-star/small-star rounds over the persisted canonical edges
    * `eAll` (u >= v), which it unpersists. */
  private def starLoop(eAll: DataFrame): DataFrame = {
    import eAll.sparkSession.implicits._

    def canon(df: DataFrame): DataFrame = df
      .select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
      .distinct()

    // (count, bitwise-xor of row hashes): order-independent identity of
    // the canonical edge set in ONE pass
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64($"u", $"v")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    def largeStar(df: DataFrame): DataFrame = {
      val und = df.select($"u", $"v")
        .union(df.select($"v".as("u"), $"u".as("v")))
      val mins = und.groupBy($"u")
        .agg(least(min($"v"), first($"u")).as("m"))
      und.join(mins, "u")
        .where($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))
        .where($"u" =!= $"v")
        .distinct()
    }

    def smallStar(df: DataFrame): DataFrame = {
      val oriented = canon(df) // u > v by construction
      val mins = oriented.groupBy($"u").agg(min($"v").as("m"))
      val repointed = oriented.join(mins, "u")
        .select($"v".as("u"), $"m".as("v"))
        .union(mins.select($"u", $"m".as("v")))
        .where($"u" =!= $"v")
        .distinct()
      repointed
    }

    // the star loop runs on proper edges; self-loop-only nodes come
    // back as singleton labels. Checkpointed eagerly so it survives
    // eAll's unpersist without re-running the upstream pair pipeline.
    val selfOnly = eAll.where($"u" === $"v")
      .select($"u".as("id"), $"u".as("component"))
      .localCheckpoint(eager = true)
    var cur = canon(eAll.where($"u" =!= $"v")).localCheckpoint(eager = true)
    eAll.unpersist(blocking = false)
    var sig = signature(cur)
    var iter = 0
    var converged = false
    while (!converged && iter < MaxIters) {
      val next = canon(smallStar(largeStar(cur)))
        .localCheckpoint(eager = true)
      val nsig = signature(next)
      converged = nsig == sig
      cur = next
      sig = nsig
      iter += 1
    }
    // converged edge set is a union of stars rooted at component minima:
    // canonical (u > v) rows read "u's component is v"; roots label
    // themselves
    val nonRoots = cur.select($"u".as("id"), $"v".as("component"))
    val roots = cur.select($"v".as("id"), $"v".as("component")).distinct()
    nonRoots.union(roots).union(selfOnly).groupBy($"id")
      .agg(min($"component").as("component"))
  }
}
