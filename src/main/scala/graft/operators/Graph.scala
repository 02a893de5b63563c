package graft.operators

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames (driver brief's
  * training-pipeline extensions; SURVEY.md §2.K — the reference's own
  * surface has no graph operators, so these are beyond-reference
  * capability like Dedup/Similarity). The PageRank twin of
  * [[Dedup.connectedComponents]], built on the same loop discipline:
  * node/edge-keyed relations only, one shuffle per iteration, eager
  * `localCheckpoint` to keep the lineage flat, and never a
  * data-proportional collect. What reaches the driver is bounded: the
  * edge and node counts the gates observe on their pins (longs), and
  * a centrality sweep's source list (≤ K ids) below the
  * [[LocalFixpointMaxEdges]] gate.
  */
object Graph {

  /** Size gate for the single-task fixpoint path of the iterative
    * operators: a measured edge count at or below this runs the whole
    * iteration inside ONE executor task (zero per-round stages);
    * above it, the distributed per-round loop runs. Why this exists:
    * profiled at sf0.1 the iterated state is already data-sized (AQE
    * coalesces every per-round shuffle to 1 partition) and the
    * remaining ~250 ms/round is pure stage-scheduling + AQE
    * materialization overhead — a floor no partitioning choice can
    * cut. 2M edges ≈ 64 MB in task memory and ~15·m = 30M scalar ops
    * for a 15-round fixpoint: comfortably one task, far below the
    * crossover where per-round distribution wins. The gate is a
    * MEASURED row count, observed on the job that pins the relation
    * ([[Checkpoints.pinCounted]]), mirroring AQE's own runtime-size
    * strategy picks — never a hardcoded repartition. */
  private[graft] val LocalFixpointMaxEdges = 2000000L

  /** The single-task path below [[LocalFixpointMaxEdges]]: `rows` —
    * an edge list whose first two columns are node ids, read as longs —
    * is coalesced into ONE executor task, `algo` runs the whole
    * fixpoint over its rows there, and its output is named `out`. Not
    * a driver collect: the work runs in an executor and the result
    * stays a distributed relation. Each `algo` replicates its
    * distributed loop operation-for-operation, so the two paths agree
    * bit-for-bit (GraphSpec parity laws force the distributed loop via
    * `localMaxEdges = 0`), and each keeps its own empty-input output. */
  private[graft] def oneTask[T <: Product : TypeTag, R <: Product : TypeTag](
      rows: DataFrame, out: String*)(algo: Iterator[T] => Iterator[R]): DataFrame = {
    val ss = rows.sparkSession
    import ss.implicits._
    val a +: b +: rest = rows.columns.toSeq.map(col)
    rows.select(a.cast("long") +: b.cast("long") +: rest: _*).as[T]
      .coalesce(1).mapPartitions(algo).toDF(out: _*)
  }

  /** Spark's `round(x, scale)` on a double, for the single-task twins:
    * java `BigDecimal.valueOf(x).setScale(scale, HALF_UP)` is exactly
    * Spark's `Round`, so a twin's quantized folds match its loop's. */
  private def sparkRound(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue

  /** Node → its (neighbor, wc) incidences, both ends of every edge. */
  private type Adjacency = mutable.HashMap[Long, mutable.ArrayBuffer[(Long, Long)]]

  private def adjacency(es: Iterator[(Long, Long, Long)]): Adjacency = {
    val adj: Adjacency = mutable.HashMap.empty
    es.foreach { case (a, b, wc) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += ((b, wc))
      adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += ((a, wc))
    }
    adj
  }

  /** The single-task twin of [[Checkpoints.fixpoint]]'s loop: runs
    * `round`, which says whether it changed anything, until a round
    * changes nothing, and throws `failure` once `maxIter` rounds have
    * all changed something. */
  private def converge(maxIter: Int, failure: => Throwable)(round: => Boolean): Unit = {
    var iter = 0
    while (round) { iter += 1; if (iter == maxIter) throw failure }
  }

  /** The symmetric incidence list (n, m, wc) of an undirected edge
    * list, each edge heard from both ends, pinned: every round of a
    * distributed loop joins it. The caller owns its release. */
  private def incidence(und: DataFrame): DataFrame =
    und.select(col("a").as("n"), col("b").as("m"), col("wc"))
      .union(und.select(col("b").as("n"), col("a").as("m"), col("wc")))
      .localCheckpoint(true)

  /** Weighted PageRank by power iteration: `iters` rounds of
    *
    *   rank'(v) = (1-d)/n + d · Σ_{(u,v)∈E} rank(u) · w(u,v) / outw(u)
    *
    * Each round is ONE edge-keyed join (edges × node-sized ranks on the
    * src key) and ONE dst-keyed aggregate — the standard distributed
    * formulation; at 100 TB the edge relation partitions on its join
    * keys and the rank state stays node-sized. Dangling nodes (no
    * out-edges) simply leak their damped mass — the common simplified
    * variant; documented rather than redistributed, and the golden spec
    * pins it against a driver-side reference with the same convention.
    *
    * Per-node contribution terms are scaled to exact 1e-12-grain LONGS
    * before the dst-keyed fold, so the per-iteration sum is INTEGER
    * arithmetic — bit-identical under any reduce order or partitioning,
    * the exempt lane's determinism contract. (A 12-dp double pre-round
    * is NOT enough: the double sum of rounded terms still differs by an
    * ulp across fold orders, and one ulp at a round-half boundary flips
    * the printed 12th decimal — observed live at sf0.01.) Scaled ranks
    * are ≤1e12 so the fold cannot overflow a long.
    *
    * `edges` columns: (srcCol, dstCol, weightCol). Multi-edges are
    * legal (they just add weight). Returns (node, rank).
    */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, damping: Double = 0.85,
               iters: Int = 15,
               localMaxEdges: Long = LocalFixpointMaxEdges): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    require(damping > 0 && damping < 1, s"damping in (0,1), got $damping")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("double").as("w"))
    val outw = e0.groupBy("src").agg(sum(col("w")).as("outw"))
    val (e, m) = Checkpoints.pinCounted(e0.join(outw, Seq("src")))
    // measured-size strategy pick (see LocalFixpointMaxEdges)
    if (m <= localMaxEdges) return pagerankOneTask(e, damping, iters)
    val (nodes, n) = Checkpoints.pinCounted(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val base = (1.0 - damping) / n
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (i <- 1 to iters) {
      val contribs = e.join(ranks, col("src") === col("node"))
        .select(col("dst").as("node"),
          round(col("rank") * col("w") / col("outw") * lit(1e12))
            .cast("long").as("c"))
        .groupBy("node").agg(sum(col("c")).as("in"))
      // left join: nodes with no in-edges keep the teleport floor
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          round(lit(base) + lit(damping) *
            (coalesce(col("in"), lit(0L)).cast("double") / lit(1e12)), 12)
            .as("rank"))
      // checkpoint on a CADENCE, not per round: the loop count is FIXED
      // (unlike connectedComponents' data-dependent convergence loop, which
      // must materialize per round to read its observe metric), so lineage
      // only ever nests a bounded handful of join rounds between cuts —
      // one materialization job per cadence instead of one per round
      if (i % 5 == 0 || i == iters) ranks = ranks.localCheckpoint(true)
    }
    ranks
  }

  /** The single-task fixpoint path of [[pagerank]]: the joined
    * (src, dst, w, outw) edge relation — `outw` computed by the SAME
    * distributed aggregate as the loop path, so the two paths share
    * every double — runs all `iters` rounds in one task, with the
    * loop's 1e-12-grain long contribution folds and Spark `round`
    * replicas, so the output is BIT-IDENTICAL to the distributed loop
    * (GraphSpec parity law). */
  private def pagerankOneTask(e: DataFrame, damping: Double,
                              iters: Int): DataFrame =
    oneTask(e.select("src", "dst", "w", "outw"), "node", "rank") {
      (it: Iterator[(Long, Long, Double, Double)]) =>
        val es = it.toArray
        val nodes = es.flatMap { case (u, v, _, _) => Array(u, v) }.distinct
        val n = nodes.length
        val base = (1.0 - damping) / n
        val rank = mutable.HashMap.empty[Long, Double]
        nodes.foreach(v => rank(v) = 1.0 / n)
        for (_ <- 1 to iters) {
          val in = mutable.HashMap.empty[Long, Long]
          es.foreach { case (u, v, w, ow) =>
            in(v) = in.getOrElse(v, 0L) + sparkRound(rank(u) * w / ow * 1e12, 0).toLong
          }
          nodes.foreach { v =>
            rank(v) = sparkRound(base + damping * (in.getOrElse(v, 0L).toDouble / 1e12), 12)
          }
        }
        nodes.iterator.map(v => (v, rank(v)))
    }

  /** Marker the in-plan weight guard embeds in its raise_error message
    * so [[undirect]]'s checkpoint-time catch can translate the task
    * failure back into the IllegalArgumentException the operator
    * contracts promise. */
  private val WeightContractTag = "GRAFT_WEIGHT_CONTRACT"

  private def messageChain(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).toSeq

  /** Undirected simple edge list from a directed multi-edge relation:
    * self-loops dropped, direction collapsed via (least, greatest),
    * parallel edges merged with exact-long weight sums. The UNIT
    * contract: an already-integral weight column (the registry callers
    * pass integer cents) is taken AS-IS — re-scaling it by 100 would
    * silently fold "hundredths of cents" and burn 100× of the 2^53
    * double-cast headroom at large SFs; a fractional column is
    * quantized to 1e-2-grain longs ("cents") so every downstream fold
    * is still integer arithmetic. The result is pinned, and returned
    * with its edge count ([[Checkpoints.pinCounted]]): callers fan out
    * into multi-join shapes (degree, orientation, wedge closure) and
    * must not re-scan the upstream fact tables per consumer, and the
    * size-gated ones read their gate from the count.
    *
    * `minWeight = Some((lo, what))` enforces the weight contract
    * IN-PLAN: a `raise_error` branch rides the aggregated weight column
    * through the eager checkpoint this helper already runs, so the
    * validation costs ZERO extra Spark jobs — it replaced a blocking
    * 1-row `agg(min).collect()` driver round-trip per operator call
    * (and puts `operators/` inside the PlanAuditSpec no-collect sweep). */
  private def undirect(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String,
                       minWeight: Option[(Long, String)] = None)
      : (DataFrame, Long) = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val wc = edges.schema(weightCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        col(weightCol).cast("long")
      case _ =>
        round(col(weightCol).cast("double") * lit(100.0)).cast("long")
    }
    val agg = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"),
        wc.as("wc"))
      .where(col("a") =!= col("b"))
      .groupBy("a", "b").agg(sum(col("wc")).as("wc"))
    val guarded = minWeight match {
      case Some((lo, what)) =>
        // checked on the AGGREGATED per-pair weight (parallel edges
        // sum), exactly what the old min-probe validated
        agg.select(col("a"), col("b"),
          when(col("wc") < lit(lo),
            raise_error(concat(lit(s"$WeightContractTag: $what, found "),
              col("wc").cast("string"))))
            .otherwise(col("wc")).as("wc"))
      case None => agg
    }
    try Checkpoints.pinCounted(guarded)
    catch {
      case e: Throwable
          if messageChain(e).exists(_.contains(WeightContractTag)) =>
        throw new IllegalArgumentException(
          messageChain(e).find(_.contains(WeightContractTag)).get)
    }
  }

  /** Triangle census by DEGREE-ORDERED orientation — the scalable
    * formulation (each undirected edge becomes ONE directed edge from
    * its lower-(degree, id) endpoint, capping out-degree at O(√m), so
    * the wedge join is near-linear in edges rather than Σdeg² — the
    * standard MapReduce/Cohen scheme). Wedges anchored at a node pair
    * its out-neighbors in orientation order; one equi-join against the
    * oriented edges closes them. Every count is an exact integer; each
    * triangle is counted exactly once. Returns one row:
    * (n_nodes, n_edges, n_triangles). */
  def triangleCensus(edges: DataFrame, srcCol: String, dstCol: String,
                     weightCol: String): DataFrame = {
    val (und, deg, oriented) = orientedParts(edges, srcCol, dstCol, weightCol)
    val sizes = und.agg(count(lit(1)).as("n_edges")).crossJoin(
      deg.agg(count(lit(1)).as("n_nodes")))
    sizes.crossJoin(closedTriangles(oriented))
      .select("n_nodes", "n_edges", "n_triangles")
  }

  /** Global clustering coefficient: 3·triangles / wedges, where the
    * wedge count Σ deg·(deg−1)/2 folds node-sized exact longs and the
    * triangle count comes from the same degree-ordered closure as
    * [[triangleCensus]]. The one double is a single division of exact
    * integers — identical on any engine — rounded at 6 dp. Returns one
    * row (n_wedges, n_triangles, global_clustering). */
  def clusteringCensus(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String): DataFrame = {
    val (_, deg, oriented) = orientedParts(edges, srcCol, dstCol, weightCol)
    val wedges = deg.agg(
      (sum(col("deg") * (col("deg") - lit(1L))) / lit(2)).cast("long")
        .as("n_wedges"))
    wedges.crossJoin(closedTriangles(oriented))
      .select(col("n_wedges"), col("n_triangles"),
        // wedge-free graphs (every degree ≤ 1, or no edges): 0/0 would be
        // NaN on both engines — report 0.0, mirroring localClustering
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
          .otherwise(lit(0.0)).as("global_clustering"))
  }

  /** Per-node triangle membership and LOCAL clustering coefficient
    * 2·tri(v) / (deg(v)·(deg(v)−1)): the same degree-ordered closure as
    * [[triangleCensus]], but each closed triangle is exploded to its
    * three corners before the keyed count, so membership stays one
    * node-keyed aggregate. Counts exact longs; the coefficient is one
    * division of exact integers rounded at 6 dp (0.0 for deg < 2).
    * Returns (node, degree, n_triangles, local_clustering) for every
    * node with at least one edge. */
  def localClustering(edges: DataFrame, srcCol: String, dstCol: String,
                      weightCol: String): DataFrame = {
    val (_, deg, oriented) = orientedParts(edges, srcCol, dstCol, weightCol)
    val x = oriented.select(col("lo").as("anchor"), col("hi").as("u"), col("dhi").as("du"))
    val y = oriented.select(col("lo").as("anchor"), col("hi").as("v"), col("dhi").as("dv"))
    val wedges = x.join(y, Seq("anchor"))
      .where(struct(col("du"), col("u")) < struct(col("dv"), col("v")))
      .select(col("anchor"), col("u").as("lo"), col("v").as("hi"))
    val corners = wedges.join(oriented.select("lo", "hi"), Seq("lo", "hi"))
      .select(explode(array(col("anchor"), col("lo"), col("hi"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_tri"))
    deg.join(corners, Seq("n"), "left")
      .select(col("n").as("node"), col("deg").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          round(coalesce(col("n_tri"), lit(0L)) * lit(2.0) /
            (col("deg") * (col("deg") - lit(1L))), 6))
          .otherwise(lit(0.0)).as("local_clustering"))
  }

  /** Degree assortativity of the undirected simple graph: the Pearson
    * correlation of endpoint degrees over the SYMMETRIZED edge-endpoint
    * pairs (each undirected edge contributes (deg a, deg b) and
    * (deg b, deg a) — Newman's convention, which makes Σx = Σy and
    * collapses Pearson to r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²)).
    * Every sum folds EXACT integers (degree products fit a long for any
    * vertex count < 2³¹; the folds are Decimal(38,0), overflow-safe at
    * any realistic edge count — DuckDB's BIGINT sums promote to
    * HUGEINT, the same exactness); the single double is one division
    * of identical exact integers rounded at 6 dp. Degenerate regular
    * graphs (every degree equal — the denominator is 0) report 0.0 on
    * both engines. Returns one row (n_edges, assortativity). */
  def assortativityCensus(edges: DataFrame, srcCol: String, dstCol: String,
                          weightCol: String): DataFrame = {
    val (und, _) = undirect(edges, srcCol, dstCol, weightCol)
    val deg = und.select(col("a").as("n")).union(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val pts = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
    val dx = deg.select(col("n").as("u"), col("deg").as("dx"))
    val dy = deg.select(col("n").as("v"), col("deg").as("dy"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val s = pts.join(dx, Seq("u")).join(dy, Seq("v"))
      .agg(count(lit(1)).as("n_pts"),
        sum(col("dx").cast(dec)).as("sx"),
        sum((col("dx") * col("dy")).cast(dec)).as("sxy"),
        sum((col("dx") * col("dx")).cast(dec)).as("sxx"))
    val num = col("n_pts") * col("sxy") - col("sx") * col("sx")
    val den = col("n_pts") * col("sxx") - col("sx") * col("sx")
    s.select((col("n_pts") / 2).cast("long").as("n_edges"),
      when(den > 0,
        round(num.cast("double") / den.cast("double"), 6))
        .otherwise(lit(0.0)).as("assortativity"))
  }

  /** Shared degree-ordered orientation: every undirected edge directed
    * from its lower-(degree, id) endpoint. Out-degree is then O(√m),
    * which is what keeps the wedge join near-linear. */
  private def orientedParts(edges: DataFrame, srcCol: String, dstCol: String,
                            weightCol: String): (DataFrame, DataFrame, DataFrame) = {
    val (und, _) = undirect(edges, srcCol, dstCol, weightCol)
    val deg = und.select(col("a").as("n")).union(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.withColumnRenamed("n", "a").withColumnRenamed("deg", "da"), Seq("a"))
      .join(deg.withColumnRenamed("n", "b").withColumnRenamed("deg", "db"), Seq("b"))
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("lo"), col("b").as("hi"),
            col("db").as("dhi")))
          .otherwise(struct(col("b").as("lo"), col("a").as("hi"),
            col("da").as("dhi"))).as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"), col("e.dhi").as("dhi"))
      .localCheckpoint(true)
    (und, deg, oriented)
  }

  /** Wedge (lo; u, v) — u, v out-neighbors of lo ordered by (deg, id),
    * so the pair is itself orientation-ordered and closable by ONE
    * equi-join against the oriented edges. One row: n_triangles. */
  private def closedTriangles(oriented: DataFrame): DataFrame = {
    val x = oriented.select(col("lo"), col("hi").as("u"), col("dhi").as("du"))
    val y = oriented.select(col("lo"), col("hi").as("v"), col("dhi").as("dv"))
    val wedges = x.join(y, Seq("lo"))
      .where(struct(col("du"), col("u")) < struct(col("dv"), col("v")))
      .select(col("u").as("lo"), col("v").as("hi"))
    wedges.join(oriented.select("lo", "hi"), Seq("lo", "hi"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Weighted single-source shortest paths over the undirected graph by
    * distributed relaxation (parallel Bellman–Ford): each round every
    * node offers `dist(n) + w(n,m)` to its neighbors and keeps the
    * minimum offer seen — one incidence join + one keyed min per round.
    * It is the one-source case of the shared [[multiSourceDistances]]
    * fixpoint (and its single-task twin below the gate), so the state
    * is node-sized and each round is one Spark job. Distances are EXACT
    * LONGS in the [[undirect]] weight unit (cents from the registry
    * callers), so every min-fold is integer arithmetic — reduce-order
    * free, the exempt lane's determinism contract.
    *
    * Rounds needed = the source's unweighted eccentricity (a shortest
    * path settles one hop per round at worst) — small for the
    * small-diameter graphs a trade/social/web pack meets. There is no
    * pointer-jump shortcut here: min-plus path doubling would square
    * the EDGE relation (O(m²) candidate paths), the classic reason
    * distributed SSSP stays round-iterative. A `maxIter` exit without
    * convergence would return TRUNCATED distances (silently wrong), so
    * it throws instead. Only nodes reachable from `source` appear in
    * the result (node, dist). Negative weights are rejected by the
    * in-plan guard riding [[undirect]]'s checkpoint (no extra job). */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
                    weightCol: String, source: Long,
                    maxIter: Int = 40,
                    localMaxEdges: Long = LocalFixpointMaxEdges): DataFrame =
    distanceSweep(edges, srcCol, dstCol, weightCol, Some(Seq(source)), None,
        maxIter, localMaxEdges, "shortestPaths").distances
      .select(col("n").as("node"), col("dist"))

  /** k-core decomposition (coreness per node) by the distributed
    * h-index fixpoint (Lü et al., "The H-index of a network", and the
    * Montresor et al. distributed k-core scheme): estimates start at
    * degree; each round every node replaces its estimate with
    * `min(old, H(neighbor estimates))` where H is the h-index (the
    * largest h such that ≥ h neighbors have estimate ≥ h). Estimates
    * are monotone non-increasing and stay upper bounds of the true
    * core number, so the fixpoint IS the coreness — pinned in
    * GraphSpec against a driver-side peeling reference. Each round is
    * ONE incidence join + one node-partitioned window (rank neighbor
    * estimates desc, h = max(min(est, rank))) — node-keyed state,
    * integer arithmetic end to end, reduce-order-free. Convergence is
    * observe-metric (no changed estimate), riding the per-round
    * checkpoint; a `maxIter` exit without convergence would return
    * over-estimates (silently wrong), so it throws — the
    * [[shortestPaths]] failure contract. Skew: the per-node window
    * sorts deg(v) neighbor estimates — the irreducible cost of any
    * neighborhood aggregate; a celebrity node's slice is one task's
    * sort of its degree (the incidence JOIN side is AQE-skew-splittable;
    * the window sort is not, and every distributed k-core formulation
    * shares it — the alternative, per-round degree-decrement peeling,
    * serializes on the global min instead). Returns (node, coreness)
    * for every node with at least one edge. */
  def coreness(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, maxIter: Int = 100,
               localMaxEdges: Long = LocalFixpointMaxEdges): DataFrame = {
    require(maxIter >= 1, s"maxIter must be positive, got $maxIter")
    val (und, m) = undirect(edges, srcCol, dstCol, weightCol)
    def failure = new IllegalStateException(
      s"coreness did not converge within $maxIter rounds — estimates " +
        "would be over-estimates; raise maxIter for this graph")
    // measured-size strategy pick (see LocalFixpointMaxEdges); exact
    // integer h-index folds, so path parity is trivial (GraphSpec law)
    if (m <= localMaxEdges) return corenessOneTask(und, maxIter, failure)
    val inc = incidence(und)
    val seed = inc.groupBy("n").agg(count(lit(1)).as("est"))
      .localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("n").orderBy(col("em").desc, col("m"))
    val est = try Checkpoints.fixpoint(seed, maxIter, failure)(
      est => {
        val h = inc
          .join(est.select(col("n").as("m"), col("est").as("em")), Seq("m"))
          .withColumn("rnk", row_number().over(w))
          .groupBy("n").agg(max(least(col("em"), col("rnk"))).as("h"))
        est.join(h, Seq("n"))
          .select(col("n"), col("est").as("old"),
            least(col("est"), col("h")).as("est"))
      },
      col("est") < col("old"))
    finally Checkpoints.drop(inc)
    est.select(col("n").as("node"), col("est").as("coreness"))
  }

  /** The single-task fixpoint path of [[coreness]]: the same synchronous
    * h-index rounds over the normalized undirected edge list in one
    * executor task. Every quantity is an exact int, so parity with the
    * distributed loop is by construction (GraphSpec law forces both
    * paths). Keeps the maxIter-truncation throw. */
  private def corenessOneTask(und: DataFrame, maxIter: Int,
                              failure: => Throwable): DataFrame =
    // weights play no part: every edge counts once
    oneTask(und.select(col("a"), col("b"), lit(1L)), "node", "coreness") {
      (it: Iterator[(Long, Long, Long)]) =>
        val adj = adjacency(it)
        val est = mutable.HashMap.empty[Long, Long]
        adj.foreach { case (v, ns) => est(v) = ns.length.toLong }
        converge(maxIter, failure) {
          var changed = false
          val snap = est.clone()
          adj.foreach { case (v, ns) =>
            val vals = ns.map(p => snap(p._1)).sortBy(x => -x)
            var h = 0L
            var i = 0
            while (i < vals.length && vals(i) >= i + 1) { h = i + 1; i += 1 }
            val nv = math.min(snap(v), h)
            if (nv < est(v)) { est(v) = nv; changed = true }
          }
          changed
        }
        est.iterator
    }

  /** Harmonic closeness centrality from multi-source shortest paths:
    * C(v) = Σ_{s ∈ sources, s ≠ v, d(s,v) < ∞} 1 / d(s,v) — the
    * disconnection-robust closeness variant (an unreachable pair
    * contributes 0, no 1/∞ special case; Boldi & Vigna, "Axioms for
    * centrality"). Distances come from a SOURCE-TAGGED generalization
    * of [[shortestPaths]]: state is (src, node, dist) — K·n rows for K
    * sources — and each round is still ONE incidence join + one
    * (src, node)-keyed min, so the loop discipline (checkpoint cadence,
    * observe-metric convergence, exact cent-long distances,
    * maxIter-truncation throw) carries over unchanged. At 100 TB the
    * exact all-sources form is O(n²) state — pass `landmarkK` for the
    * LANDMARK estimator (closeness folds linearly over sources, so the
    * K deterministically md5-picked sources extrapolate by n/K; at
    * K = n it degenerates to the exact form bit-for-bit — GraphSpec
    * law). Explicit `sources` stay UNSCALED (the caller owns the
    * estimator); `n_reached` always reports RAW reached-source counts
    * (≤ K in landmark mode — the pinned cost witness). The per-source terms
    * 1/d are rounded to exact 1e-12-grain longs before the node-keyed
    * fold (the [[pagerank]] trick) so the sum is reduce-order-free;
    * the printed value is the long sum / 1e12 rounded at 6 dp, scaled
    * by the [[undirect]] cent unit (distances are cents, so terms are
    * 100/d_cents — 1/d in display weight units). Returns
    * (node, n_reached, closeness) for every node on an edge:
    * n_reached = sources reaching v (excluding v itself). */
  def harmonicCloseness(edges: DataFrame, srcCol: String, dstCol: String,
                        weightCol: String, sources: Option[Seq[Long]] = None,
                        landmarkK: Option[Int] = None,
                        maxIter: Int = 40,
                        localMaxEdges: Long = LocalFixpointMaxEdges): DataFrame = {
    val s = distanceSweep(edges, srcCol, dstCol, weightCol, sources, landmarkK,
      maxIter, localMaxEdges, "harmonicCloseness")
    closenessFold(s.distances, s.nodes, s.scale)
  }

  /** One centrality sweep's set-up, shared by every multi-source
    * operator: the argument checks, the weight-guarded [[undirect]] pin
    * and its measured gate, the long-normalized edge list, the node
    * set, the seed relation, the landmark scale and the gate's ≤ K
    * source list. `weight = None` sweeps hop counts: every edge weighs
    * one, whatever the weight column holds. */
  private final class Sweep(edges: DataFrame, srcCol: String, dstCol: String,
                            weightCol: String, sources: Option[Seq[Long]],
                            landmarkK: Option[Int], val maxIter: Int,
                            localMaxEdges: Long, val what: String,
                            weight: Option[(Long, String)]) {
    require(maxIter >= 1, s"maxIter must be positive, got $maxIter")
    require(sources.isEmpty || landmarkK.isEmpty,
      "pass explicit sources OR landmarkK, not both")
    require(landmarkK.forall(_ >= 1),
      s"landmarkK must be positive, got ${landmarkK.get}")
    private val (pin, m) = undirect(edges, srcCol, dstCol, weightCol, weight)
    /** Measured-size strategy pick (see [[LocalFixpointMaxEdges]]). */
    val local: Boolean = m <= localMaxEdges
    // long-normalized node ids, lazily over the pin: the multi-source
    // state seeds from a (src, n, dist) relation of long sources, so the
    // edge side must carry the same type (int nation keys would CCE the
    // collect and type-coerce every per-round join)
    val und: DataFrame = pin.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"),
      (if (weight.isEmpty) lit(1L) else col("wc")).as("wc"))
    /** Every node on an edge — the output domain of the folds (a node
      * reached by NO source must still report 0). */
    val nodes: DataFrame =
      und.select(col("a").as("n")).union(und.select(col("b").as("n"))).distinct()
    /** The seed relation, built IN-PLAN from the node set (no V-sized
      * driver collect on the distributed path): explicit `sources` as a
      * literal relation; `landmarkK` as the first K nodes in
      * deterministic md5 order (the registry's sampling discipline —
      * reproducible across runs and engines); neither → every node (the
      * exact all-sources form). */
    val srcDf: DataFrame = sources match {
      case Some(list) =>
        require(list.nonEmpty, "centrality needs at least one source")
        val ss = edges.sparkSession
        import ss.implicits._
        list.toDF("s")
      case None => landmarkK match {
        case Some(k) =>
          nodes.orderBy(md5(col("n").cast("string")), col("n"))
            .limit(k).select(col("n").as("s"))
        case None => nodes.select(col("n").as("s"))
      }
    }
    /** The landmark estimator's scale: sampled sums extrapolate by n/K
      * (the folds are linear over sources); exact modes scale by 1.0 —
      * an IEEE identity, so the fold stays bit-identical. Lazy: a sweep
      * that does not fold by it runs no counts. */
    lazy val scale: Double = landmarkK match {
      case Some(_) =>
        val nV = nodes.count(); val kA = srcDf.count()
        if (kA == 0L) 1.0 else nV.toDouble / kA
      case None => 1.0
    }
    /** The sources, ascending, for the single-task twins. */
    def srcList: Seq[Long] = sources.getOrElse(
      srcDf.collect().map(_.getLong(0)).toSeq).sorted // bounded: <= K sources
    /** The (src, n, dist) exact shortest-distance relation. */
    def distances: DataFrame =
      if (local) multiSourceDistancesOneTask(und, srcList, maxIter, what)
      else {
        val incSym = incidence(und)
        try multiSourceDistances(incSym, srcDf, maxIter, what)
        finally Checkpoints.drop(incSym)
      }
  }

  /** A sweep over distances: weights must be non-negative. */
  private def distanceSweep(edges: DataFrame, srcCol: String, dstCol: String,
                            weightCol: String, sources: Option[Seq[Long]],
                            landmarkK: Option[Int], maxIter: Int,
                            localMaxEdges: Long, what: String): Sweep =
    new Sweep(edges, srcCol, dstCol, weightCol, sources, landmarkK, maxIter,
      localMaxEdges, what, Some((0L, s"$what requires non-negative weights")))

  private def truncated(opName: String, maxIter: Int) = new IllegalStateException(
    s"$opName did not converge within $maxIter rounds — " +
      "distances would be truncated; raise maxIter for this graph")

  /** The shared multi-source exact-distance fixpoint (source-tagged
    * Bellman–Ford): state (src, n, dist) in cent-longs, one incidence
    * join + one (src, n)-keyed min per round, run by
    * [[Checkpoints.fixpoint]]. Seeds from
    * the `srcDf(s)` relation IN-PLAN (no V-sized driver collect).
    * Shared by [[shortestPaths]], [[harmonicCloseness]],
    * [[betweennessWeighted]], [[eccentricity]] and [[closenessTotals]]
    * — one loop, five folds. Returns the CHECKPOINTED
    * final distance relation (caller owns its release); throws on
    * maxIter truncation (`opName` labels the error). */
  private[graft] def multiSourceDistances(incSym: DataFrame, srcDf: DataFrame,
                                          maxIter: Int,
                                          opName: String): DataFrame = {
    val seed = srcDf.select(col("s").as("src"), col("s").as("n"),
      lit(0L).as("dist")).localCheckpoint(true)
    Checkpoints.fixpoint(seed, maxIter, truncated(opName, maxIter))(
      dist => {
        val offers = incSym
          .join(dist.select(col("src"), col("n").as("m"), col("dist").as("dm")),
            Seq("m"))
          .select(col("src"), col("n"), (col("dm") + col("wc")).as("cand"))
          .groupBy("src", "n").agg(min(col("cand")).as("cand"))
        // full outer: a node can be newly reached this round (no old dist)
        dist.join(offers, Seq("src", "n"), "full")
          .select(col("src"), col("n"), col("dist").as("old"),
            when(col("dist").isNull, col("cand"))
              .when(col("cand").isNull, col("dist"))
              .otherwise(least(col("dist"), col("cand"))).as("dist"))
      },
      col("old").isNull || col("dist") < col("old"))
  }

  /** Single-task twin of [[multiSourceDistances]]: synchronous
    * Bellman–Ford per source (relax from the PREVIOUS round's
    * distances) over the normalized edge list in one executor task —
    * identical exact cent-long distances, so any fold over the two
    * relations is parity-exact by construction. A source on no edge
    * still yields its own 0-distance row, as the loop's seed does. */
  private[graft] def multiSourceDistancesOneTask(und: DataFrame,
                                                 srcList: Seq[Long],
                                                 maxIter: Int,
                                                 opName: String): DataFrame = {
    val srcs = srcList.toArray
    oneTask(und, "src", "n", "dist") { (it: Iterator[(Long, Long, Long)]) =>
      val es = it.toArray
      srcs.iterator.flatMap { s0 =>
        val d = mutable.HashMap(s0 -> 0L)
        converge(maxIter, truncated(opName, maxIter)) {
          val next = d.clone()
          es.foreach { case (a, b, wc) =>
            for ((n0, m0) <- Seq((a, b), (b, a)); dm <- d.get(m0)) {
              val cand = dm + wc
              if (cand < next.getOrElse(n0, Long.MaxValue)) next(n0) = cand
            }
          }
          val changed = next != d
          d.clear(); d ++= next
          changed
        }
        d.iterator.map { case (n0, dd) => (s0, n0, dd) }
      }
    }
  }

  /** The shared (src, node, dist) → (node, n_reached, closeness) fold:
    * self-pairs dropped, 1/d terms scaled to exact 1e-12-grain longs
    * (d is cents → term = 100/d in weight units), integer-summed per
    * node, displayed at 6 dp. Isolated-from-all-sources nodes on an
    * edge still appear via the left join over the node set. */
  private def closenessFold(dist: DataFrame, nodes: DataFrame,
                            scale: Double): DataFrame = {
    val terms = dist.where(col("src") =!= col("n") && col("dist") > 0L)
      .select(col("n"),
        round(lit(100.0) / col("dist").cast("double") * lit(1e12))
          .cast("long").as("t"))
      .groupBy("n").agg(count(lit(1)).as("n_reached"), sum(col("t")).as("ts"))
    nodes.join(terms, Seq("n"), "left")
      .select(col("n").as("node"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        round(coalesce(col("ts"), lit(0L)).cast("double") * lit(scale) /
          lit(1e12), 6).as("closeness"))
  }

  /** Weighted ECCENTRICITY per node (+ the diameter/radius endpoints):
    * ecc(v) = max over REACHED u of the exact cent-long shortest-path
    * weight d(v, u) — the standard finite-eccentricity convention on
    * disconnected graphs (unreachable pairs contribute nothing, the
    * [[harmonicCloseness]] robustness stance). Rides the SAME
    * [[multiSourceDistances]] fixpoint as closeness and weighted
    * betweenness — one loop, three folds — so the one-task/distributed
    * parity is inherited, not re-proven. Exact all-sources is O(n²)
    * state; `landmarkK` runs the sweep from K md5-picked sources and
    * reports their EXACT eccentricities (no extrapolation — a sampled
    * max is a lower bound, not an unbiased estimate; the classic
    * double-sweep diameter heuristic reads max ecc off a few sources).
    * Returns (node, n_reached, ecc_cents) for each SOURCE: distances
    * stay exact cent-longs for the caller to display. */
  def eccentricity(edges: DataFrame, srcCol: String, dstCol: String,
                   weightCol: String, sources: Option[Seq[Long]] = None,
                   landmarkK: Option[Int] = None,
                   maxIter: Int = 40,
                   localMaxEdges: Long = LocalFixpointMaxEdges): DataFrame =
    distanceSweep(edges, srcCol, dstCol, weightCol, sources, landmarkK,
        maxIter, localMaxEdges, "eccentricity").distances
      .where(col("src") =!= col("n"))
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("n_reached"), max(col("dist")).as("ecc_cents"))

  /** CLASSIC (total-distance) closeness surface: per source node, how
    * many nodes it reaches and the EXACT total shortest-path distance
    * to them — the closeness numerator/denominator pair in integer
    * weight units. Emitting the un-divided (n_reached, total_dist) pair
    * keeps the fold exact end to end (one hash per engine, no
    * reduce-order doubles) — callers divide however their closeness
    * convention wants. Rides the same shared multi-source distance
    * fixpoint as [[eccentricity]] / [[harmonicCloseness]]; with unit
    * weights total_dist is the exact total HOP count, the form the
    * q_graph_closeness_hops oracle checks. */
  def closenessTotals(edges: DataFrame, srcCol: String, dstCol: String,
                      weightCol: String, sources: Option[Seq[Long]] = None,
                      landmarkK: Option[Int] = None,
                      maxIter: Int = 40,
                      localMaxEdges: Long = LocalFixpointMaxEdges): DataFrame =
    distanceSweep(edges, srcCol, dstCol, weightCol, sources, landmarkK,
        maxIter, localMaxEdges, "closenessTotals").distances
      .where(col("src") =!= col("n"))
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("n_reached"), sum(col("dist")).as("total_dist"))

  /** Betweenness centrality (unweighted, undirected) by distributed
    * Brandes (Brandes 2001): a level-synchronous multi-source BFS
    * forward wave — state (src, node, dist, sigma), sigma the exact
    * LONG shortest-path count, one frontier⋈edges join + (src,node)
    * keyed sigma-sum per round, rounds = diameter — then the backward
    * dependency sweep by DESCENDING level: δ(v) = Σ_{w ∈ succ(v)}
    * σ(v)/σ(w) · (1 + δ(w)), one level per round. The δ accumulation
    * would be reduce-order-dependent double math, so every
    * contribution is quantized to 1e-12-grain longs BEFORE its keyed
    * sum (the [[pagerank]] discipline): c = round(σv/σw · (1e12 +
    * δw_pico)) folded as integers — bit-stable under any partitioning,
    * and replicated operation-for-operation by the one-task path below
    * the [[LocalFixpointMaxEdges]] gate (GraphSpec parity law).
    * Betweenness(v) = Σ_src δ_src(v) / 2 (each unordered pair counted
    * from both endpoints), displayed at 6 dp. Edge weights are
    * IGNORED (hop-count Brandes — the weighted variant needs Dijkstra
    * waves whose levels are not discrete rounds); `sources` defaults
    * to all nodes (exact). At scale pass `landmarkK`: the LANDMARK
    * estimator (Brandes–Pich 2007) sweeps only K deterministically
    * md5-picked sources and extrapolates by n/K — state is K·n rows
    * instead of n², and at K = n the machinery degenerates to the
    * exact form bit-for-bit (GraphSpec law; the accuracy band and the
    * state ∝ K cost bound are pinned there too). Explicit `sources`
    * stay UNSCALED (the caller owns the estimator). Returns
    * (node, betweenness) for every node on an edge. */
  def betweenness(edges: DataFrame, srcCol: String, dstCol: String,
                  weightCol: String, sources: Option[Seq[Long]] = None,
                  landmarkK: Option[Int] = None,
                  maxIter: Int = 60,
                  localMaxEdges: Long = LocalFixpointMaxEdges): DataFrame = {
    val s = new Sweep(edges, srcCol, dstCol, weightCol, sources, landmarkK,
      maxIter, localMaxEdges, "betweenness", None)
    if (s.local) return brandesOneTask(s, maxDepth = Some(maxIter))
    val incSym = incidence(s.und)
    val (visited, d) = brandesForwardState(incSym, s.srcDf, maxIter)
    // ---- backward sweep by descending level ----
    // deltaPico(src, n): accumulated dependency, 1e-12-grain longs
    val maxDist = d - 1 // deepest level that holds nodes
    var delta = visited.select(col("src"), col("n"), lit(0L).as("dp"))
      .localCheckpoint(true)
    var lvl = maxDist
    while (lvl >= 1) {
      // successors at `lvl` push contributions to predecessors at lvl-1
      val wNodes = visited.where(col("dist") === lvl)
        .join(delta, Seq("src", "n"))
        .select(col("src"), col("n").as("w"), col("sigma").as("sw"),
          col("dp").as("dw"))
      val contribs = wNodes
        .join(incSym.select(col("n").as("w"), col("m").as("n")), Seq("w"))
        .join(visited.where(col("dist") === lvl - 1)
            .select(col("src"), col("n"), col("sigma").as("sv")),
          Seq("src", "n"))
        .select(col("src"), col("n"),
          round(col("sv").cast("double") / col("sw").cast("double") *
            (lit(1e12) + col("dw").cast("double"))).cast("long").as("c"))
        .groupBy("src", "n").agg(sum(col("c")).as("cd"))
      val prevDelta = delta
      delta = delta.join(contribs, Seq("src", "n"), "left")
        .select(col("src"), col("n"),
          (col("dp") + coalesce(col("cd"), lit(0L))).as("dp"))
        .localCheckpoint(true)
      // same discipline as the forward wave: the new level's checkpoint
      // is eager, so the superseded δ state (also src × node) drops now
      // instead of accumulating one copy per level
      Checkpoints.drop(prevDelta)
      lvl -= 1
    }
    // the final δ checkpoint truncates lineage, so the BFS state and the
    // symmetric incidence list are dead weight from here — release them
    // (the pin stays: the node-domain fold below derives from it)
    Checkpoints.drop(visited)
    Checkpoints.drop(incSym)
    betweennessFold(delta, s)
  }

  /** betweenness(v) = scale · Σ_{src ≠ v} δ_src(v) / 2 (each unordered
    * pair counted from both endpoints), displayed at 6 dp, for every
    * node on an edge: the Brandes–Pich n/K extrapolation in landmark
    * mode, 1.0 (an IEEE identity) in exact modes. */
  private def betweennessFold(delta: DataFrame, s: Sweep): DataFrame = {
    val bt = delta.where(col("src") =!= col("n"))
      .groupBy("n").agg(sum(col("dp")).as("dps"))
    s.nodes.join(bt, Seq("n"), "left")
      .select(col("n").as("node"),
        round(coalesce(col("dps"), lit(0L)).cast("double") * lit(s.scale) /
          lit(2e12), 6).as("betweenness"))
  }

  /** The forward Brandes wave as level-synchronous multi-source BFS:
    * seeds (src=s, n=s, dist=0, σ=1) from the seed relation, one
    * frontier⋈edges join + (src, n)-keyed σ-sum per round. State is
    * |seeds|·V rows — the quantity the landmark estimator bounds
    * (GraphSpec pins state ∝ K as a law via this probe). Superseded
    * checkpoints drop as soon as their successor materializes, so the
    * block manager holds O(1) copies of the state, not O(diameter).
    * Returns (visited, depth); throws if the wave does not exhaust. */
  private[graft] def brandesForwardState(incSym: DataFrame, srcDf: DataFrame,
                                         maxIter: Int): (DataFrame, Int) = {
    val (seed, k) = Checkpoints.pinCounted(srcDf.select(col("s").as("src"),
      col("s").as("n"), lit(0).as("dist"), lit(1L).as("sigma")))
    var visited = seed
    var frontier = seed
    var frontierRows = k
    var d = 0
    while (frontierRows > 0 && d < maxIter) {
      val cand = frontier.select(col("src"), col("n").as("__from"),
          col("sigma"))
        .join(incSym.select(col("n").as("__from"), col("m").as("n")),
          Seq("__from"))
        .groupBy(col("src"), col("n")).agg(sum(col("sigma")).as("sigma"))
      val (nextFrontier, nextRows) = Checkpoints.pinCounted(cand
        .join(visited.select(col("src"), col("n"), lit(1).as("__seen")),
          Seq("src", "n"), "left_anti")
        .select(col("src"), col("n"), lit(d + 1).as("dist"), col("sigma")))
      // the union checkpoint MATERIALIZES before the superseded visited
      // blocks drop — on a landmark run the (src × node) state is the
      // largest relation in the job, and leaking one copy per BFS round
      // would hold O(diameter) copies of it in the block manager
      val prevVisited = visited
      visited = visited.union(nextFrontier).localCheckpoint(true)
      Checkpoints.drop(prevVisited)
      Checkpoints.drop(frontier)
      frontier = nextFrontier
      frontierRows = nextRows
      d += 1
    }
    if (frontierRows > 0) throw bfsTruncated(maxIter)
    Checkpoints.drop(frontier)
    (visited, d)
  }

  private def bfsTruncated(maxIter: Int) = new IllegalStateException(
    s"betweenness BFS did not exhaust within $maxIter rounds — " +
      "deltas would be truncated; raise maxIter for this graph")

  /** The single-task path of both betweenness operators: exact Brandes
    * per source in one executor task. The forward pass is Dijkstra
    * (binary heap, lazy deletion) with cent-long distances and long σ —
    * over the hop sweep's unit weights exactly the BFS wave — and the
    * dependency sweep runs by STRICTLY descending distance (well-founded
    * because weights are strictly positive), replicating the
    * distributed loops' pico-quantized δ arithmetic
    * operation-for-operation; the display is [[betweennessFold]]'s
    * (Σδ · scale) / 2e12 at 6 dp. `maxDepth` is the hop sweep's BFS
    * round bound: a source whose wave would run past it throws, as the
    * distributed wave does. Output bit-identical to the distributed
    * loops (GraphSpec parity laws). */
  private def brandesOneTask(s: Sweep, maxDepth: Option[Int]): DataFrame = {
    val srcs = s.srcList.toArray
    val scale = s.scale
    oneTask(s.und, "node", "betweenness") { (it: Iterator[(Long, Long, Long)]) =>
      val adj = adjacency(it)
      val dps = mutable.HashMap.empty[Long, Long]
      srcs.filter(adj.contains).foreach { s0 =>
        val dist = mutable.HashMap(s0 -> 0L)
        val sigma = mutable.HashMap(s0 -> 1L)
        val settled = mutable.ArrayBuffer.empty[Long]
        val done = mutable.HashSet.empty[Long]
        val pq = mutable.PriorityQueue((0L, s0))(
          Ordering.by[(Long, Long), (Long, Long)](p => (-p._1, -p._2)))
        while (pq.nonEmpty) {
          val (d0, u) = pq.dequeue()
          if (!done(u) && dist(u) == d0) {
            done += u; settled += u
            adj(u).foreach { case (v, wc) =>
              val cand = d0 + wc
              val dv = dist.get(v)
              if (dv.forall(cand < _)) {
                dist(v) = cand; sigma(v) = sigma(u); pq.enqueue((cand, v))
              } else if (dv.contains(cand)) {
                sigma(v) += sigma(u)
              }
            }
          }
        }
        maxDepth.foreach(k => if (dist(settled.last) >= k) throw bfsTruncated(k))
        // dependency sweep: strictly descending distance (ties carry
        // no DAG edges under positive weights, so tie order is moot)
        val dp = mutable.HashMap.empty[Long, Long]
        settled.reverseIterator.foreach { w =>
          val dw = dp.getOrElse(w, 0L)
          adj(w).foreach { case (v, wc) =>
            if (dist.get(v).contains(dist(w) - wc))
              dp(v) = dp.getOrElse(v, 0L) + sparkRound(
                sigma(v).toDouble / sigma(w).toDouble * (1e12 + dw.toDouble), 0).toLong
          }
        }
        dp.foreach { case (v, x) =>
          if (v != s0) dps(v) = dps.getOrElse(v, 0L) + x
        }
      }
      adj.keysIterator.map { v =>
        (v, sparkRound(dps.getOrElse(v, 0L).toDouble * scale / 2e12, 6))
      }
    }
  }

  /** WEIGHTED betweenness centrality (undirected, strictly positive
    * weights) — the Dijkstra-wave generalization of [[betweenness]]:
    * shortest paths minimize exact cent-long WEIGHT sums (the
    * [[undirect]] unit), σ counts minimum-weight paths, and the
    * Brandes dependency δ(v) = Σ_{w ∈ succ(v)} σv/σw · (1 + δw) runs
    * over the per-source shortest-path DAG. Weighted levels are not
    * discrete BFS rounds, so the distributed path is three chained
    * FIXPOINTS, each one incidence join + keyed fold per round on the
    * established loop discipline ([[Checkpoints.fixpoint]]: eager
    * checkpoints, observe-metric convergence, superseded-state drops):
    *
    *   1. distances — the multi-source Bellman–Ford of
    *      [[harmonicCloseness]] ((src, n, dist) state);
    *   2. σ — path counts propagate along SP-DAG edges
    *      (dist(v) + w(v,n) = dist(n)) until stable: round i fixes
    *      every node within i DAG-hops of its source, so rounds =
    *      DAG depth;
    *   3. δ — RECOMPUTED each round from the current successor δ
    *      (not accumulated): deepest nodes stabilize at 0 first, each
    *      round finalizes the next shallower rank, convergence =
    *      unchanged δ everywhere.
    *
    * Contributions are pico-quantized (c = round(σv/σw·(1e12+δw)))
    * BEFORE their keyed sums — the [[betweenness]] discipline — so the
    * converged δ equals the one-task descending-distance sweep
    * bit-for-bit (GraphSpec parity law), and with uniform weights the
    * result equals hop-count [[betweenness]] exactly (the SP structure
    * coincides — also a GraphSpec law). Zero-weight edges are REJECTED:
    * they collapse SP-DAG ranks (v and w at equal distance) and the
    * descending-distance sweep is no longer well-founded. `sources` /
    * `landmarkK` behave exactly as in [[betweenness]] (Brandes–Pich
    * n/K extrapolation, md5 landmark pick, K·n state). Returns
    * (node, betweenness) for every node on an edge. */
  def betweennessWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                          weightCol: String,
                          sources: Option[Seq[Long]] = None,
                          landmarkK: Option[Int] = None,
                          maxIter: Int = 60,
                          localMaxEdges: Long = LocalFixpointMaxEdges): DataFrame = {
    val s = new Sweep(edges, srcCol, dstCol, weightCol, sources, landmarkK,
      maxIter, localMaxEdges, "betweennessWeighted",
      Some((1L, "betweennessWeighted requires strictly " +
        "positive weights (zero collapses SP-DAG ranks)")))
    if (s.local) return brandesOneTask(s, maxDepth = None)
    val incSym = incidence(s.und)
    // ---- fixpoint 1: exact weighted distances (src, n, dist) ----
    val dist = multiSourceDistances(incSym, s.srcDf, maxIter, s.what)
    // ---- the per-source shortest-path DAG: dist(v) + w = dist(n) ----
    val dag = incSym.select(col("n").as("v"), col("m").as("w_node"),
        col("wc"))
      .join(dist.select(col("src"), col("n").as("v"), col("dist").as("dv")),
        Seq("v"))
      .join(dist.select(col("src"), col("n").as("w_node"),
        col("dist").as("dw")), Seq("src", "w_node"))
      .where(col("dv") + col("wc") === col("dw"))
      .select(col("src"), col("v"), col("w_node"))
      .localCheckpoint(true)
    // ---- fixpoint 2: σ along the DAG ----
    val sigma = Checkpoints.fixpoint(
      dist.select(col("src"), col("n"),
          when(col("n") === col("src"), 1L).otherwise(0L).as("sigma"))
        .localCheckpoint(true),
      maxIter, new IllegalStateException(
        s"betweennessWeighted σ did not converge within $maxIter rounds — " +
          "raise maxIter for this graph"))(
      sigma => {
        val inSum = dag
          .join(sigma.select(col("src"), col("n").as("v"),
            col("sigma").as("sv")), Seq("src", "v"))
          .groupBy(col("src"), col("w_node").as("n"))
          .agg(sum(col("sv")).as("insum"))
        sigma.select(col("src"), col("n"), col("sigma").as("old"))
          .join(inSum, Seq("src", "n"), "left")
          .select(col("src"), col("n"), col("old"),
            when(col("n") === col("src"), 1L)
              .otherwise(coalesce(col("insum"), lit(0L))).as("sigma"))
      },
      col("sigma") =!= col("old"))
    // ---- fixpoint 3: δ recomputed from successor δ until stable ----
    val delta = Checkpoints.fixpoint(
      dist.select(col("src"), col("n"), lit(0L).as("dp")).localCheckpoint(true),
      maxIter, new IllegalStateException(
        s"betweennessWeighted δ did not converge within $maxIter rounds — " +
          "raise maxIter for this graph"))(
      delta => {
        val contribs = dag
          .join(sigma.select(col("src"), col("n").as("v"),
            col("sigma").as("sv")), Seq("src", "v"))
          .join(sigma.select(col("src"), col("n").as("w_node"),
            col("sigma").as("sw")), Seq("src", "w_node"))
          .join(delta.select(col("src"), col("n").as("w_node"),
            col("dp").as("dpw")), Seq("src", "w_node"))
          .select(col("src"), col("v").as("n"),
            round(col("sv").cast("double") / col("sw").cast("double") *
              (lit(1e12) + col("dpw").cast("double"))).cast("long").as("c"))
          .groupBy("src", "n").agg(sum(col("c")).as("cd"))
        delta.select(col("src"), col("n"), col("dp").as("old"))
          .join(contribs, Seq("src", "n"), "left")
          .select(col("src"), col("n"), col("old"),
            coalesce(col("cd"), lit(0L)).as("dp"))
      },
      col("dp") =!= col("old"))
    Checkpoints.drop(dag)
    Checkpoints.drop(sigma)
    Checkpoints.drop(dist)
    Checkpoints.drop(incSym)
    betweennessFold(delta, s)
  }

  /** Weighted modularity of a GIVEN node partition over the undirected
    * simple graph (Newman–Girvan): Q = Σ_c [ W_c/W − (S_c/(2W))² ],
    * where W is the total undirected edge weight, W_c the intra-
    * community weight and S_c the community's summed node strength.
    * Communities arrive as a (node, community) relation — a dim
    * attribute, a [[labelPropagation]] labeling, a
    * [[graft.operators.Dedup.connectedComponents]] output — so the
    * score composes with any partitioner. Everything data-proportional
    * is ONE edge aggregation ([[undirect]]) plus node-keyed joins; the
    * folds are exact integers in the [[undirect]] weight unit, promoted
    * to Decimal(38,0) for the squared-strength terms (S_c ≤ 2W, so S_c²
    * stays under 10³⁸ for any W < 10¹⁸·⁵ — comfortably past 100 TB of
    * cent-weights; DuckDB's HUGEINT promotion gives the oracle the same
    * exactness). The single double is one division of identical exact
    * integers, Q = (4W·ΣW_c − ΣS_c²) / (4W²), rounded at 6 dp; an
    * edgeless graph guards to 0.0. Returns one row
    * (n_communities, w_sum, modularity) — n_communities counts
    * communities holding at least one on-edge node; w_sum is W in the
    * input weight unit (cents from the registry callers). */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 weightCol: String, communities: DataFrame,
                 nodeCol: String, commCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val (und, _) = undirect(edges, srcCol, dstCol, weightCol)
    val comm = communities.select(col(nodeCol).as("__node"),
      col(commCol).as("__comm"))
    val wtot = und.agg(coalesce(sum(col("wc")), lit(0L)).as("w"))
    val intra = und
      .join(comm.select(col("__node").as("a"), col("__comm").as("ca")), Seq("a"))
      .join(comm.select(col("__node").as("b"), col("__comm").as("cb")), Seq("b"))
      .where(col("ca") === col("cb"))
      .agg(coalesce(sum(col("wc")), lit(0L)).as("wi"))
    val strength = und.select(col("a").as("n"), col("wc"))
      .union(und.select(col("b").as("n"), col("wc")))
      .groupBy("n").agg(sum(col("wc")).as("s"))
    val perComm = strength.join(comm, col("n") === col("__node"))
      .groupBy("__comm").agg(sum(col("s")).as("sc"))
    val agg = perComm.agg(
      coalesce(sum(col("sc").cast(dec) * col("sc").cast(dec)),
        lit(0).cast(dec)).as("ss"),
      count(lit(1)).as("ncomm"))
    val num = lit(4).cast(dec) * col("w").cast(dec) * col("wi").cast(dec) -
      col("ss")
    val den = lit(4).cast(dec) * col("w").cast(dec) * col("w").cast(dec)
    wtot.crossJoin(intra).crossJoin(agg)
      .select(col("ncomm").as("n_communities"), col("w").as("w_sum"),
        when(col("w") > 0,
          round(num.cast("double") / den.cast("double"), 6))
          .otherwise(lit(0.0)).as("modularity"))
  }

  /** k-truss of the undirected simple graph: the maximal subgraph in
    * which every edge has SUPPORT ≥ k−2 (support = triangles through
    * the edge). Computed by synchronous peeling rounds — the standard
    * distributed scheme (Cohen, "Graph twiddling in a MapReduce
    * world"): each round re-counts support over the SURVIVING edge set
    * via the same degree-ordered triangle closure as [[triangleCensus]]
    * (each triangle found once, exploded to its three edges for the
    * edge-keyed count) and drops every edge below threshold at once.
    * The fixpoint is order-independent (the k-truss is the unique
    * maximal such subgraph, and surviving-edge supports are a property
    * of that subgraph), which is what makes the one-task path below the
    * [[LocalFixpointMaxEdges]] gate trivially parity-exact (GraphSpec
    * law). Convergence is observe-metric (zero drops), riding the
    * per-round checkpoint; a `maxIter` exit without convergence would
    * return a SUPERSET of the truss (silently wrong), so it throws —
    * the [[coreness]] failure contract. All counts exact longs. Returns
    * the surviving edges (a, b, support). */
  def ktruss(edges: DataFrame, srcCol: String, dstCol: String,
             weightCol: String, k: Int, maxIter: Int = 100,
             localMaxEdges: Long = LocalFixpointMaxEdges): DataFrame = {
    require(k >= 2, s"k-truss needs k >= 2, got $k")
    require(maxIter >= 1, s"maxIter must be positive, got $maxIter")
    val (und, m) = undirect(edges, srcCol, dstCol, weightCol)
    var e = und.select("a", "b")
    def failure = new IllegalStateException(
      s"ktruss did not converge within $maxIter rounds — the result " +
        "would be a superset of the truss; raise maxIter for this graph")
    // measured-size strategy pick (see LocalFixpointMaxEdges); integer
    // fixpoint, order-independent, so path parity is by construction
    if (m <= localMaxEdges) return ktrussOneTask(e, k, maxIter, failure)
    var result: DataFrame = null
    // blocks from the PREVIOUS round, released once this round's
    // checkpoint has materialized (the final round's survive for the
    // caller; Bench unpersists between ids)
    var lastRound: Seq[DataFrame] = Seq(und)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val (sup, oriented) = edgeSupport(e)
      val obs = org.apache.spark.sql.Observation(s"graft_ktruss_round_$iter")
      val scored = e.join(sup, Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          coalesce(col("support"), lit(0L)).as("support"))
        .observe(obs, sum(when(col("support") < k - 2, 1L)
          .otherwise(0L)).as("dropped"))
        .localCheckpoint(true)
      converged =
        Option(obs.get("dropped")).forall(_.asInstanceOf[Long] == 0L)
      Checkpoints.drop(oriented)
      lastRound.foreach(Checkpoints.drop)
      lastRound = Seq(scored)
      result = scored.where(col("support") >= k - 2)
      e = result.select("a", "b")
      iter += 1
    }
    if (!converged) throw failure
    result
  }

  /** Per-edge triangle support over a simple (a < b) edge list, by the
    * [[triangleCensus]] degree-ordered closure: each triangle found
    * exactly once, then exploded to its three unordered edges for one
    * edge-keyed count. Returns the (a, b, support) relation (supported
    * edges only — callers left-join and default to 0) PLUS the round's
    * checkpointed oriented relation so the caller can release its
    * blocks once downstream has materialized. */
  private def edgeSupport(simple: DataFrame): (DataFrame, DataFrame) = {
    val deg = simple.select(col("a").as("n"))
      .union(simple.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val oriented = simple
      .join(deg.withColumnRenamed("n", "a").withColumnRenamed("deg", "da"), Seq("a"))
      .join(deg.withColumnRenamed("n", "b").withColumnRenamed("deg", "db"), Seq("b"))
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("lo"), col("b").as("hi"), col("db").as("dhi")))
          .otherwise(struct(col("b").as("lo"), col("a").as("hi"),
            col("da").as("dhi"))).as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"), col("e.dhi").as("dhi"))
      .localCheckpoint(true)
    val x = oriented.select(col("lo").as("anchor"), col("hi").as("u"),
      col("dhi").as("du"))
    val y = oriented.select(col("lo").as("anchor"), col("hi").as("v"),
      col("dhi").as("dv"))
    val tri = x.join(y, Seq("anchor"))
      .where(struct(col("du"), col("u")) < struct(col("dv"), col("v")))
      .select(col("anchor"), col("u").as("lo"), col("v").as("hi"))
      .join(oriented.select("lo", "hi"), Seq("lo", "hi"))
      .select(col("anchor"), col("lo").as("u"), col("hi").as("v"))
    val sup = tri.select(explode(array(
        struct(least(col("anchor"), col("u")).as("a"),
          greatest(col("anchor"), col("u")).as("b")),
        struct(least(col("anchor"), col("v")).as("a"),
          greatest(col("anchor"), col("v")).as("b")),
        struct(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("support"))
    (sup, oriented)
  }

  /** The single-task path of [[ktruss]]: the same synchronous peeling
    * rounds (recount support over survivors, drop all below threshold
    * at once) in one executor task — identical round semantics, so the
    * maxIter-truncation throw carries over, and the fixpoint is the
    * same unique subgraph as the distributed loop (GraphSpec law). */
  private def ktrussOneTask(simple: DataFrame, k: Int, maxIter: Int,
                            failure: => Throwable): DataFrame =
    oneTask(simple.select(col("a"), col("b"), lit(1L)), "a", "b", "support") {
      (it: Iterator[(Long, Long, Long)]) =>
        var es = it.toArray
        var support = Map.empty[(Long, Long), Long]
        converge(maxIter, failure) {
          val adj = adjacency(es.iterator).map { case (v, ns) => v -> ns.map(_._1).toSet }
          support = es.map { case (a, b, _) => (a, b) -> adj(a).count(adj(b)).toLong }.toMap
          val next = es.filter { case (a, b, _) => support((a, b)) >= k - 2 }
          val changed = next.length != es.length
          es = next
          changed
        }
        es.iterator.map { case (a, b, _) => (a, b, support((a, b))) }
    }

  /** Community detection by synchronous label propagation, `iters`
    * fixed rounds (fixed — not convergence-gated — so the output is a
    * pure function of the input): labels start as node ids; each round
    * every node adopts the label with the greatest incident weight,
    * ties to the SMALLEST label. Weights fold as exact longs (the
    * [[undirect]] unit contract: integral inputs as-is, fractional
    * quantized to cents — the labeling is invariant under the uniform
    * scale) and the argmax is `max(struct(weight, -label))` — integer arithmetic
    * end to end, so the result is reduce-order-free (the exempt lane's
    * determinism contract). One incidence join + one keyed argmax per
    * round; label state is node-sized. Returns (node, community). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iters: Int = 10,
                       localMaxEdges: Long = LocalFixpointMaxEdges): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    val (und, m) = undirect(edges, srcCol, dstCol, weightCol)
    // measured-size strategy pick (see LocalFixpointMaxEdges); integer
    // arithmetic end to end, so path parity is trivial (GraphSpec law)
    if (m <= localMaxEdges) return labelPropagationOneTask(und, iters)
    val inc = incidence(und)
    var labels = inc.select(col("n")).distinct()
      .withColumn("label", col("n"))
    for (i <- 1 to iters) {
      labels = inc
        .join(labels.withColumnRenamed("n", "m"), Seq("m"))
        .groupBy(col("n"), col("label")).agg(sum(col("wc")).as("lw"))
        .groupBy(col("n"))
        .agg(max(struct(col("lw"), (-col("label")).as("neg"))).as("best"))
        .select(col("n"), (-col("best.neg")).as("label"))
      // fixed round count → cadence checkpointing (see pagerank)
      if (i % 5 == 0 || i == iters) labels = labels.localCheckpoint(true)
    }
    labels.select(col("n").as("node"), col("label").as("community"))
  }

  /** The single-task fixpoint path of [[labelPropagation]]: the
    * normalized undirected edge list runs all rounds in one executor
    * task. Every quantity is an exact long and the argmax is the same
    * (weight, −label) lexicographic max, so the output is identical to
    * the distributed loop by construction — pinned by the GraphSpec
    * parity law (distributed forced via `localMaxEdges = 0`). */
  private def labelPropagationOneTask(und: DataFrame, iters: Int): DataFrame =
    oneTask(und, "node", "community") { (it: Iterator[(Long, Long, Long)]) =>
      val adj = adjacency(it)
      val labels = mutable.HashMap.empty[Long, Long]
      adj.keys.foreach(v => labels(v) = v)
      for (_ <- 1 to iters) {
        // per-node incident weight by neighbor label, then the argmax
        val next = adj.map { case (v, ns) =>
          v -> ns.groupMapReduce(p => labels(p._1))(_._2)(_ + _)
            .maxBy { case (lbl, w) => (w, -lbl) }._1
        }
        labels ++= next
      }
      labels.iterator
    }
}
