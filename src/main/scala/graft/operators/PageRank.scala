package graft.operators

import graft.core.DriverLocal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** PageRank over an undirected pair graph (e.g. the near-duplicate
  * pair graphs [[Dedup]] emits) — fixed-iteration power method with
  * the classic damping form r' = (1−d)/n + d·Σ_in r(u)/deg(u).
  * Within a dedup cluster the highest-rank member is the most-connected
  * canonical representative — an authority-based alternative to
  * [[Dedup.keepBestInCluster]]'s quality argmax.
  *
  * Determinism: the per-node neighbor sum is routed through
  * DECIMAL(38,18) (exact, order-independent) before returning to
  * double, so ranks are bit-identical under any partitioning AND
  * reproducible by the DuckDB oracle's unrolled-iteration SQL — an
  * iterative graph computation with a hash-exact oracle.
  *
  * Scale: each iteration is one broadcast-or-shuffle join of E edges
  * with N ranks plus a grouped sum (map-side combined after the
  * decimal cast); lineage is cut per iteration (localCheckpoint, the
  * same discipline as [[Dedup.connectedComponents]]). Fixed iteration
  * count keeps the driver loop bounded.
  */
object PageRank {

  /** @param pairs undirected edges as (a, b) columns
    * @param iters fixed number of power iterations
    * @param damping classic damping factor d
    *
    * A graph whose directed edges fit [[graft.core.DriverLocal]] (192 B
    * of driver heap each) runs the whole power iteration on the driver ([[runLocal]]).
    * Long ids only; other id types always take the distributed path. */
  def run(pairs: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    // null ids fail loudly (same contract as connectedComponents): a
    // null key never equi-joins, so its neighbors would silently lose
    // contributions and drop out of the rank table — and the local path
    // would unbox null to 0L, merging the phantom node into node 0
    def nonNull(c: String) = coalesce(col(c),
      raise_error(lit(s"PageRank: null id in '$c'")).cast(pairs.schema(c).dataType))
    // materialize the (possibly expensive) pair screen ONCE before the
    // two-direction union: a union over the raw `pairs` plan executes
    // the upstream screen in both branches (only its exchanges are
    // reused), doubling every post-shuffle screen stage
    val p0 = pairs.select(nonNull("a").as("a"), nonNull("b").as("b"))
      .localCheckpoint(true)
    val edges = p0.select(col("a").as("src"), col("b").as("dst"))
      .union(p0.select(col("b").as("src"), col("a").as("dst")))
      .distinct().localCheckpoint(true)
    val nEdges = edges.count() // checkpoint materialized — metadata-cheap
    require(nEdges > 0, "PageRank over an empty pair graph")
    val longIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && DriverLocal.fits(nEdges * 192L))
      return runLocal(edges, iters, damping)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val nodes = edges.select(col("src").as("id")).distinct()
      .localCheckpoint(true)
    val n = nodes.count()
    val nD = n.toDouble
    // edges⋈deg is loop-invariant: materialize it once rather than
    // re-running the degree aggregation + join every iteration
    val ew = edges.join(deg, "src").localCheckpoint(true)
    var ranks = nodes.withColumn("r", lit(1.0) / lit(nD))
    for (_ <- 1 to iters) {
      val contribs = ew
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst"), (col("r") / col("deg").cast("double")).as("c"))
      // no join back to `nodes`: every node of an undirected pair graph
      // has deg >= 1, so each receives >= 1 contribution and the grouped
      // sum's key set IS the node set
      ranks = contribs.groupBy(col("dst").as("id"))
        .agg(sum(col("c").cast(DecimalType(38, 18))).cast("double").as("s"))
        .select(col("id"),
          (lit(1.0 - damping) / lit(nD) + lit(damping) * col("s")).as("r"))
        .localCheckpoint(true)
    }
    ranks
  }

  /** Driver-side power iteration, arithmetic-identical to the
    * distributed path: per-edge contribution is the same double
    * division r/deg; the neighbor sum routes each contribution through
    * decimal(38,18) exactly as Spark's `cast(c AS DECIMAL(38,18))` does
    * (Double.toString-valued BigDecimal, HALF_UP to scale 18), sums
    * exactly (order-free), and converts back via BigDecimal.doubleValue
    * (= Spark's decimal→double cast); the damping fold is the same
    * double expression tree. */
  private def runLocal(edges: DataFrame, iters: Int, damping: Double): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val deg = new scala.collection.mutable.HashMap[Long, Long]()
    es.foreach { case (s, _) => deg.update(s, deg.getOrElse(s, 0L) + 1L) }
    val nodes = deg.keys.toArray.sorted
    val nD = nodes.length.toDouble
    var ranks = nodes.map(id => id -> (1.0 / nD)).toMap
    for (_ <- 1 to iters) {
      val sums = new scala.collection.mutable.HashMap[Long, java.math.BigDecimal]()
      es.foreach { case (s, d) =>
        val c = ranks(s) / deg(s).toDouble
        val dec = new java.math.BigDecimal(java.lang.Double.toString(c))
          .setScale(18, java.math.RoundingMode.HALF_UP)
        sums.update(d, sums.get(d).fold(dec)(_.add(dec)))
      }
      ranks = nodes.map(id =>
        id -> ((1.0 - damping) / nD + damping * sums(id).doubleValue)).toMap
    }
    nodes.map(id => (id, ranks(id))).toSeq.toDF("id", "r")
  }
}
