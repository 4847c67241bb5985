package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** One-pass table profiler — the data-quality summary an ingest run logs
  * before committing a batch: per column, row/null counts, approximate
  * distinct (HLL++ via approx_count_distinct — profile-grade, not the
  * oracle-exact sketch), and min/max rendered as strings.
  *
  * Cost model: ONE scan regardless of column count — every statistic is an
  * aggregate in a single wide agg row (partial aggregation everywhere),
  * pivoted to per-column rows on the driver (columns × 4 values — bytes).
  * No per-column jobs, no sampling. min/max aggregate on the NATIVE type
  * (cast to string only at the end — string-cast-first would order
  * numerics lexicographically, e.g. min(2, 10) = "10"); map columns are
  * unorderable and report null bounds.
  */
object Profiler {

  /** Backtick-quote a column name so dots and backticks in messy source
    * schemas resolve as the literal name, not a nested-field path. */
  private def q(c: String): Column = col("`" + c.replace("`", "``") + "`")

  /** (column, n_rows, n_nulls, approx_distinct, min, max) per column. */
  def profile(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cols = df.columns.toSeq
    val orderable = df.schema.fields.map(f =>
      f.name -> !f.dataType.isInstanceOf[MapType]).toMap
    val aggs =
      Seq(count(lit(1)).as("__n")) ++
        cols.zipWithIndex.flatMap { case (c, i) =>
          val (mn, mx) =
            if (orderable(c)) (min(q(c)).cast("string"), max(q(c)).cast("string"))
            else (lit(null).cast("string"), lit(null).cast("string"))
          Seq(
            sum(when(q(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$i"),
            approx_count_distinct(q(c)).as(s"__dist_$i"),
            mn.as(s"__min_$i"), mx.as(s"__max_$i"))
        }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getAs[Long]("__n")
    cols.zipWithIndex.map { case (c, i) =>
      (c, n, row.getAs[Long](s"__nulls_$i"), row.getAs[Long](s"__dist_$i"),
        Option(row.getAs[String](s"__min_$i")), Option(row.getAs[String](s"__max_$i")))
    }.toDF("column", "n_rows", "n_nulls", "approx_distinct", "min", "max")
  }

  /** Join-key skew report — the diagnostic to run BEFORE a 100 TB join:
    * the `topK` heaviest key values with their row share (e4) and a `hot`
    * verdict at `hotShareE4`. A hot key means a plain hash join puts that
    * share of the table in ONE task — reach for Relational.saltedJoin (or
    * broadcast the other side) instead. One partial-agg'd groupBy + a
    * TakeOrdered of k rows; the share denominator rides a broadcast scalar,
    * so the diagnostic costs one scan. */
  def skewReport(df: DataFrame, keyCol: String, topK: Int,
                 hotShareE4: Long = 1000L): DataFrame = {
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__total"))
    counts.join(broadcast(total), lit(true))
      .withColumn("share_e4", graft.functions.TextFunctions.fixedPoint(
        col("n") / col("__total"), 4))
      .withColumn("hot", col("share_e4") >= hotShareE4)
      .select(col("key"), col("n"), col("share_e4"), col("hot"))
      .orderBy(col("n").desc, col("key"))
      .limit(topK)
  }

  /** Pairwise token-distribution drift between corpus slices — the
    * DISTRIBUTIONAL complement of the verbatim-overlap matrix (q127):
    * two sources can share zero text yet have near-identical token
    * distributions (same register/domain), or share boilerplate yet
    * diverge distributionally. The metric is total-variation distance
    * over the global top-`topN` tokens plus one residual "other" bucket:
    * TV = ½ Σ |p_i − q_i| ∈ [0, 1], reported e4. The question it
    * answers at 100 TB: "did this source's distribution shift between
    * crawls" / "which sources are interchangeable in a mixture".
    *
    * Exactness: with n_i, m_i the bucket counts and N_a, N_b the slice
    * totals, ½ Σ |n_i/N_a − m_i/N_b| = Σ|n_i·N_b − m_i·N_a| / (2·N_a·N_b)
    * — an exact INTEGER numerator (addition order-free), one IEEE
    * division at the end: engine-exact like the theta estimators. Bound:
    * n_i·N_b must stay under 2^63 — fine to ~3·10^9 tokens per slice;
    * beyond that, pre-scale counts to e-9 proportions before calling.
    *
    * Scale shape: one token explode → (slice, token) count (map-side
    * combine, uniform keys), top-N via TakeOrdered (k rows to the
    * driver plan, no global sort), bucketed histograms are slices×(N+1)
    * rows, and the pair stage joins two copies of that tiny frame —
    * slices²·N work, independent of corpus size. The count frame is
    * persisted across its three consumers and released before returning
    * (result is eagerly checkpointed, matrix-sized). */
  def tokenDrift(docs: DataFrame, sliceCol: String, textCol: String,
                 topN: Int = 64): DataFrame = {
    import graft.functions.TextFunctions.wsTokens
    val OtherBucket = "\u0001other" // control-prefixed: no natural token collides
    val counts = docs
      .select(col(sliceCol).as("src"),
        explode(wsTokens(lower(col(textCol)))).as("tok"))
      .groupBy(col("src"), col("tok")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = try {
      val totals = counts.groupBy(col("src")).agg(sum(col("n")).as("nt"))
      val top = counts.groupBy(col("tok")).agg(sum(col("n")).as("g"))
        .orderBy(col("g").desc, col("tok")).limit(topN).select(col("tok"))
      val keyed = counts
        .join(broadcast(top.withColumn("__t", lit(1))), Seq("tok"), "left")
        .select(col("src"),
          when(col("__t").isNotNull, col("tok")).otherwise(lit(OtherBucket)).as("tok"),
          col("n"))
        .groupBy(col("src"), col("tok")).agg(sum(col("n")).as("n"))
      // zero-filled grid: a token absent from a slice must contribute its
      // FULL other-side mass to the distance, not silently drop
      val filled = totals.select(col("src"))
        .join(broadcast(keyed.select(col("tok")).distinct()), lit(true))
        .join(keyed, Seq("src", "tok"), "left")
        .select(col("src"), col("tok"), coalesce(col("n"), lit(0L)).as("n"))
        .join(totals, Seq("src"))
      val a = filled.select(col("src").as("src_a"), col("tok"),
        col("n").as("na"), col("nt").as("nta"))
      val b = filled.select(col("src").as("src_b"), col("tok"),
        col("n").as("nb"), col("nt").as("ntb"))
      a.join(b, Seq("tok")).filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(max(col("nta")).as("n_a"), max(col("ntb")).as("n_b"),
          sum(abs(col("na") * col("ntb") - col("nb") * col("nta"))).as("s"))
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          floor(col("s").cast("double") * 10000.0d /
            (lit(2.0d) * col("n_a") * col("n_b")) + 0.5d).cast("long").as("tv_e4"))
        .localCheckpoint(true)
    } finally counts.unpersist()
    out
  }

  /** Per-slice total-variation distance between two snapshots' BUCKET
    * distributions — the generic drift primitive behind quality-score /
    * length / any-bucketed-metric monitoring: bucket each snapshot
    * yourself (deciles, length bands, …), this measures how far each
    * slice's distribution moved. Same exact-integer TV arithmetic as
    * [[tokenDrift]] (numerator Σ|n_i·N_b − m_i·N_a| is order-free exact,
    * one IEEE division; same ~3·10⁹-rows-per-slice bound). Buckets
    * missing from one side contribute their full other-side mass; slices
    * present in only ONE snapshot are dropped — drift is undefined
    * without both sides (appeared/vanished slices are the snapshot-diff/
    * centroid-drift operators' job). Scale shape: two bucket histograms
    * (map-side combine) joined at slices×buckets granularity —
    * corpus-size-independent after the histogram scans. */
  def distributionDrift(snapA: DataFrame, snapB: DataFrame,
                        sliceCol: String, bucketCol: String): DataFrame = {
    // side-tagged union instead of a cross-snapshot join: the two
    // snapshots usually share ONE lineage (filters of the same frame),
    // where a self-join on the histogram keys hits Spark's ambiguous
    // attribute resolution; the union has no cross-branch join at all,
    // handles missing buckets implicitly (the absent side's conditional
    // count is 0), and reads both snapshots in one shuffle
    def side(df: DataFrame, tag: Int) =
      df.select(col(sliceCol).as("src"), col(bucketCol).as("bk"),
        lit(tag).as("__side"))
    val counts = side(snapA, 0).unionByName(side(snapB, 1))
      .groupBy(col("src"), col("bk"))
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("__side") === 1, 1L).otherwise(0L)).as("nb"))
    driftFromCounts(counts, sliceCol)
  }

  /** The TV core over an already-built histogram-pair frame
    * `(src, bk, na, nb)` — shared by [[distributionDrift]] (row-level
    * snapshots) and the versioned profile store (histograms persisted per
    * snapshot, drift replayed WITHOUT re-scanning either corpus). Missing
    * buckets may appear as absent rows or zero counts — both are correct
    * (an absent row contributes |0·N − m·N'| either way). */
  private[graft] def driftFromCounts(counts: DataFrame,
                                     sliceName: String): DataFrame = {
    // slice totals via a window, not a counts⋈totals self-join — the
    // same ambiguous-self-reference hazard the side-tagged union dodges
    // upstream, and the frame is slices×buckets rows, so one window
    // shuffle on src is the natural plan anyway
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    counts
      .withColumn("nta", sum(col("na")).over(w))
      .withColumn("ntb", sum(col("nb")).over(w))
      // drift is undefined for a slice present in only one snapshot
      .filter(col("nta") > 0 && col("ntb") > 0)
      .groupBy(col("src"))
      .agg(max(col("nta")).as("n_a"), max(col("ntb")).as("n_b"),
        sum(abs(col("na") * col("ntb") - col("nb") * col("nta"))).as("s"))
      .select(col("src").as(sliceName), col("n_a"), col("n_b"),
        floor(col("s").cast("double") * 10000.0d /
          (lit(2.0d) * col("n_a") * col("n_b")) + 0.5d).cast("long").as("tv_e4"))
  }
}

/** Versioned per-slice histogram store — the drift monitors' memory,
  * riding the Warehouse's existing version log (time travel): each
  * [[ProfileStore.snapshot]] commits the (slice, bucket) histogram of a
  * corpus snapshot as the table's next version, and
  * [[ProfileStore.drift]] replays the TV drift between ANY two committed
  * versions from the stored histograms alone — neither corpus is ever
  * re-read. What this buys at 100 TB: the expensive part of a drift
  * check is histogramming the corpus scan; the store makes that a
  * once-per-snapshot cost, after which every pairwise "how far did we
  * move since version v" is a join of two slices×buckets frames
  * (registry scale). The version log IS the retention contract — a
  * snapshot stays comparable until OrphanSweep retires its version, the
  * same lifecycle every other Warehouse table has. */
object ProfileStore {
  import graft.core.Warehouse

  private def table(name: String) = s"${name}_profile"

  /** Histogram `df` by (slice, bucket) and commit it as the next version
    * of the store; returns the committed version (pass to [[drift]]).
    * The histogram is one map-side-combined aggregate of the snapshot —
    * the only corpus-scale work in the store's lifecycle. */
  def snapshot(wh: Warehouse, schema: String, name: String, df: DataFrame,
               sliceCol: String, bucketCol: String): Long = {
    wh.overwrite(schema, table(name),
      df.groupBy(col(sliceCol).as("src"), col(bucketCol).as("bk"))
        .agg(count(lit(1)).as("n")))
    wh.currentVersion(schema, table(name))
  }

  /** TV drift per slice between two committed snapshot versions, served
    * entirely from the store (Warehouse.readAt on both sides). Output
    * matches [[Profiler.distributionDrift]] row-for-row when the stored
    * snapshots histogram the same frames — the store is a serving path,
    * not a different metric. */
  def drift(wh: Warehouse, schema: String, name: String,
            va: Long, vb: Long, sliceName: String): DataFrame = {
    def hist(v: Long, a: Boolean) =
      wh.readAt(schema, table(name), v).select(col("src"), col("bk"),
        (if (a) col("n") else lit(0L)).as("na"),
        (if (a) lit(0L) else col("n")).as("nb"))
    Profiler.driftFromCounts(
      hist(va, a = true).unionByName(hist(vb, a = false))
        .groupBy(col("src"), col("bk"))
        .agg(sum(col("na")).as("na"), sum(col("nb")).as("nb")),
      sliceName)
  }
}
