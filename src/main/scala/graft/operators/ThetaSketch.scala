package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.stableHash60

/** KMV/theta distinct-count sketches with set-operation estimators —
  * union, intersection, and per-group distincts across corpus slices
  * (which sources share users/tokens/urls, how big is the overlap) from
  * k-bounded state instead of a full distinct join.
  *
  * Determinism/portability: hashes are md5-derived 60-bit ints
  * (stableHash60 — engine-portable, unlike engine-internal hashes), the
  * k minima of a distinct set are order-independent, and every estimator
  * below is integer-or-single-division arithmetic the DuckDB oracle
  * replays bit-for-bit: (k-1)·2^60 is exact in a double (≤ 8 mantissa
  * bits · power of two), the divisor is one long→double conversion, and
  * floor of the single IEEE division is the published estimate.
  *
  * Scale shape: one scan → map-side k-capped partials (KmvMinKAgg) →
  * one shuffle of ≤ k longs per group per partition → per-group arrays
  * of ≤ k ints. Set operations then explode only sketch rows (groups·k,
  * not data-sized) and join on hash — the theta-sketch contract: cost
  * proportional to sketch size, error ~1/√k, regardless of data size.
  */
object ThetaSketch {

  /** Hash domain: stableHash60 ∈ [0, 2^60). */
  val HMax: Long = 1L << 60

  /** Raw per-group KMV buffer: (group, hs ascending array ≤ k).
    * [[SketchStore]] persists exactly this frame; `withMeta` turns any
    * snapshot of it into the estimator-ready sketch. */
  def rawSketch(df: DataFrame, groupCol: String, valueCol: String,
                k: Int, salt: String = "theta"): DataFrame =
    df.select(col(groupCol),
        stableHash60(concat(lit(salt + ":"), col(valueCol).cast("string"))).as("h"))
      // NULL values hash to NULL (concat/md5 propagate) and count nothing:
      // the explicit filter makes that contract engine-independent — the
      // oracle replay filters h IS NOT NULL identically, so a nullable
      // value column can never make an unsaturated group's n differ by 1
      .filter(col("h").isNotNull)
      .groupBy(col(groupCol))
      .agg(org.apache.spark.sql.graft.KmvMinKAgg(col("h"), k).as("hs"))

  /** Attach (n = |hs|, theta = k-th min or 2^60) to a (group, hs) frame. */
  def withMeta(raw: DataFrame, groupCol: String, k: Int): DataFrame =
    raw.select(col(groupCol), col("hs"),
      size(col("hs")).cast("long").as("n"),
      when(size(col("hs")) < k, lit(HMax))
        .otherwise(element_at(col("hs"), k)).as("theta"))

  /** Per-group KMV sketch of `valueCol`'s distinct values:
    * (group, hs ascending array ≤ k, n = |hs|, theta = k-th min or 2^60).
    * `salt` decorrelates sketches built over the same column. */
  def sketch(df: DataFrame, groupCol: String, valueCol: String,
             k: Int, salt: String = "theta"): DataFrame =
    withMeta(rawSketch(df, groupCol, valueCol, k, salt), groupCol, k)

  /** The KMV distinct estimate from (n, theta): exact n below saturation,
    * else floor((k-1)·2^60 / theta) — single IEEE division, engine-exact. */
  def estimate(n: Column, theta: Column, k: Int): Column =
    when(n < k, n)
      .otherwise(floor(lit((k - 1).toDouble * HMax.toDouble) / theta.cast("double"))
        .cast("long"))

  /** Distinct-count estimate per group. */
  def distinctEstimate(df: DataFrame, groupCol: String, valueCol: String,
                       k: Int, salt: String = "theta"): DataFrame =
    sketch(df, groupCol, valueCol, k, salt)
      .select(col(groupCol), col("n").as("n_hashes"),
        estimate(col("n"), col("theta"), k).as("est_distinct"))

  /** Pairwise set-operation estimates between every two groups' sketches
    * (grp_a < grp_b): intersection and union distinct-count estimates.
    * The sketch frame is consumed several times (meta, explode, census);
    * callers should persist/checkpoint it — it is groups·(k+3) values —
    * or the lineage re-aggregates the source per consumer.
    *
    * Theta algebra: at the pair's common threshold θ = min(θa, θb), each
    * sketch is a uniform sample of its set at rate θ/2^60, so
    * |A∩B| ≈ |{h ∈ hsA ∩ hsB : h < θ}| · 2^60/θ, and the union estimate
    * is inclusion-exclusion over the same θ. Only sketch rows move:
    * groups·k exploded hashes, one self-join on hash. */
  def pairwiseOps(sketches: DataFrame, groupCol: String, k: Int): DataFrame = {
    val meta = sketches.select(col(groupCol).as("g"), col("n"), col("theta"))
    val hs = sketches.select(col(groupCol).as("g"), explode(col("hs")).as("h"))
    val pairs = meta.select(col("g").as("grp_a"), col("theta").as("ta"))
      .join(meta.select(col("g").as("grp_b"), col("theta").as("tb")),
        col("grp_a") < col("grp_b"))
      .select(col("grp_a"), col("grp_b"), least(col("ta"), col("tb")).as("theta_ab"))
    val common = hs.select(col("g").as("grp_a"), col("h"))
      .join(hs.select(col("g").as("grp_b"), col("h")), Seq("h"))
      .filter(col("grp_a") < col("grp_b"))
      .join(pairs.select(col("grp_a"), col("grp_b"), col("theta_ab")), Seq("grp_a", "grp_b"))
      .filter(col("h") < col("theta_ab"))
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(count(lit(1)).as("n_common"))
    // |A|+|B| counted below the COMMON threshold — the same uniform sample
    // the intersection is counted in, so inclusion-exclusion
    // (nA@θ + nB@θ − n_common, scaled once) stays internally consistent.
    // The pair table is exploded to one row per (pair, member group) so
    // the sketch join is an equi-join, not an OR-condition nested loop.
    val pairSides = pairs.select(col("grp_a"), col("grp_b"), col("theta_ab"),
      explode(array(col("grp_a"), col("grp_b"))).as("g"))
    val below = hs.join(pairSides, Seq("g"))
      .filter(col("h") < col("theta_ab"))
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(count(lit(1)).as("n_below"))
    pairs.join(common, Seq("grp_a", "grp_b"), "left")
      .join(below, Seq("grp_a", "grp_b"), "left")
      .select(col("grp_a"), col("grp_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        scaled(coalesce(col("n_common"), lit(0L)), col("theta_ab")).as("est_intersect"),
        scaled(coalesce(col("n_below"), lit(0L)) - coalesce(col("n_common"), lit(0L)),
          col("theta_ab")).as("est_union"))
  }

  /** count·2^60/θ, floored — the theta scale-up, engine-exact (count < 2^9
    * keeps count·2^60 inside exact-double range). */
  private def scaled(count: Column, theta: Column): Column =
    floor(count.cast("double") * lit(HMax.toDouble) / theta.cast("double")).cast("long")
}

/** Persistent theta-sketch store over the Warehouse — the sketch analog
  * of [[AnnIndex]]: per-group KMV buffers maintained as a tiny stored
  * table so "distinct users per event type" / "fingerprints per source"
  * never rescans history. The KMV merge is a capped DISTINCT set-union
  * (associative, commutative, idempotent — [[org.apache.spark.sql.graft.
  * KmvMinKAgg]]'s TreeSet core), so:
  *   - append cost is O(batch + groups·k): the stored buffers explode to
  *     ≤ groups·k hash rows and re-aggregate WITH the new batch's hashes
  *     — history is never re-read, let alone re-hashed;
  *   - append-then-serve ≡ build-on-the-union EXACTLY (the k smallest
  *     distinct hashes of a set are a pure function of the set), the
  *     same invariant the ANN stores pin — and replayed batches change
  *     nothing (idempotent), so at-least-once ingest is safe.
  * Estimators run on any snapshot via [[ThetaSketch.withMeta]] →
  * estimate/pairwiseOps. The stored table is groups·(k) longs — registry
  * scale — so the store read is never the bottleneck at any corpus size. */
object SketchStore {
  import graft.core.Warehouse

  private def table(name: String) = s"${name}_theta"

  /** Create (or replace) the store with `df`'s sketch. `k`/`salt` are the
    * sketch contract — every append must use the same pair, so they are
    * stamped into each row and checked on append. */
  def build(wh: Warehouse, schema: String, name: String, df: DataFrame,
            groupCol: String, valueCol: String, k: Int,
            salt: String = "theta"): Unit =
    wh.overwrite(schema, table(name),
      ThetaSketch.rawSketch(df, groupCol, valueCol, k, salt)
        .withColumnRenamed(groupCol, "g")
        .withColumn("k", lit(k)).withColumn("salt", lit(salt)))

  /** Merge the arriving batch into the stored buffers — O(batch) plus the
    * sketch-sized history explode. Refuses loudly on a k/salt mismatch
    * (a sketch built under one contract cannot absorb hashes from
    * another — the error names both). */
  def append(wh: Warehouse, schema: String, name: String, newRows: DataFrame,
             groupCol: String, valueCol: String, k: Int,
             salt: String = "theta"): Unit = {
    val stored = wh.read(schema, table(name))
    val contract = stored.select(col("k"), col("salt")).distinct().collect()
    contract.foreach { r =>
      require(r.getInt(0) == k && r.getString(1) == salt,
        s"SketchStore.append: stored sketch has (k=${r.getInt(0)}, " +
          s"salt=${r.getString(1)}) but the append was called with " +
          s"(k=$k, salt=$salt) — a KMV buffer is only mergeable under " +
          "its own contract; rebuild the store to change it")
    }
    val oldHashes = stored.select(col("g"), explode(col("hs")).as("h"))
    val newHashes = ThetaSketch.rawSketch(newRows, groupCol, valueCol, k, salt)
      .select(col(groupCol).as("g"), explode(col("hs")).as("h"))
    wh.overwrite(schema, table(name),
      oldHashes.unionByName(newHashes)
        .groupBy(col("g"))
        .agg(org.apache.spark.sql.graft.KmvMinKAgg(col("h"), k).as("hs"))
        .withColumn("k", lit(k)).withColumn("salt", lit(salt)))
  }

  /** The estimator-ready sketch frame (g, hs, n, theta) from the store. */
  def sketch(wh: Warehouse, schema: String, name: String, k: Int): DataFrame =
    ThetaSketch.withMeta(
      wh.read(schema, table(name)).select(col("g"), col("hs")), "g", k)
}
