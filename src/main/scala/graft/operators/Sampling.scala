package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

import graft.functions.vfs_fingerprint

/** Deterministic sampling and dataset splitting for training-data
  * pipelines. `df.sample()` draws from a per-partition RNG stream, so
  * the selected rows change with partitioning, task retries, and
  * cluster size — useless for reproducible train/val/test membership
  * at 100 TB where stragglers WILL be retried. Hash-based sampling
  * decides membership per ROW from a content/key hash (FNV-1a via
  * [[graft.functions.Fingerprint]]): the same row lands in the same
  * split on any cluster, any partitioning, any engine (the DuckDB
  * oracle reproduces the hash bit-exactly), and membership is stable
  * under appends — new data never reshuffles old rows between splits.
  *
  * The Bernoulli/split operators are narrow (filter / project) — zero
  * shuffle, fully pushed into the scan stage. The quota-based
  * operators (stratified / mixture / temperature) select the exact
  * n smallest (hash, tiebreak) per stratum via
  * [[hashThresholdSelect]]: bounded histogram aggregates find the
  * per-stratum threshold, rows below it pass a pure filter, and only
  * a ≤ bandCap boundary band is ever windowed — no low-cardinality
  * single-task sort at any data size.
  */
object Sampling {

  /** Hash of `key` mapped uniformly onto buckets 0..nBuckets-1.
    * pmod (not %) so the signed hash still lands in [0, n). */
  def hashBucket(key: Column, nBuckets: Int): Column =
    pmod(vfs_fingerprint(key), lit(nBuckets)).cast("int")

  /** Keep rows whose key hashes into the first `pct` of 100 buckets —
    * a deterministic ~pct% sample (exact fraction depends on the key
    * distribution over buckets, not on an RNG). */
  def hashSample(df: DataFrame, key: Column, pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100, "pct must be in [0, 100]")
    df.filter(hashBucket(key, 100) < pct)
  }

  /** Assign each row a split label by hash bucket: cuts are
    * cumulative upper bounds in percent, e.g. Seq(("train", 80),
    * ("val", 90), ("test", 100)). A row's split never changes as the
    * dataset grows — the property random splits can't give you. */
  def splitAssign(df: DataFrame, key: Column,
      cuts: Seq[(String, Int)], as: String = "split"): DataFrame = {
    require(cuts.nonEmpty && cuts.last._2 == 100,
      "cuts must end at 100 (cumulative percents)")
    require(cuts.map(_._2) == cuts.map(_._2).sorted,
      "cuts must be non-decreasing")
    val b = hashBucket(key, 100)
    val expr = cuts.init.foldRight(lit(cuts.last._1): Column) {
      case ((name, hi), rest) => when(b < hi, name).otherwise(rest)
    }
    df.withColumn(as, expr)
  }

  /** Per-row uniform deviate of `key` — the shared hash-to-unit-
    * interval mapping ([[graft.functions.vfs_hash_uniform]]; see its
    * note on the 1.0 boundary under double rounding). */
  def hashUniform(key: Column): Column =
    graft.functions.vfs_hash_uniform(vfs_fingerprint(key))

  /** Deterministic WEIGHTED Bernoulli sample: keep a row iff its
    * uniform hash deviate < `weight` (a [0,1] column) — e.g. sample
    * documents proportionally to a quality score, the standard
    * quality-weighted corpus subsampling. Same properties as
    * [[hashSample]]: zero shuffle, reproducible on any cluster, and
    * membership is stable under appends and under weight changes of
    * OTHER rows. */
  def weightedHashSample(df: DataFrame, key: Column,
      weight: Column): DataFrame =
    df.filter(hashUniform(key) < weight)

  /** Per-stratum band state during radix refinement: the crossing
    * rank (quota-th row for count quotas, budget-crossing hash for
    * weight budgets) lies in [lo, hi); `size` rows are currently in
    * the band (it bounds the final window), and `remaining` is the
    * still-unconsumed quota/budget measured in the selector's own
    * units — rows for [[thresholdSelect]], weight for
    * [[budgetSample]]. */
  private final case class Band(lo: Long, hi: Option[Long],
      size: Long, remaining: Long)

  /** O(1) lookup over per-stratum band state — the ONE way band state
    * reaches a predicate. An OR chain of per-stratum terms references
    * the stratum expression once per stratum, and after the optimizer
    * inlines work-column aliases (CollapseProject re-expands any
    * staging Project), a DERIVED stratum like registered-domain-of-URL
    * became 512 copies of a multi-regexp tree in one Filter (measured:
    * a 46 MiB task binary and a 6× wall-time blowup on
    * web_domain_cap). The round-12 answer was
    * `element_at(map(<lit pairs>), stratum)` — one stratum occurrence
    * per predicate — but a map LITERAL inlines 2·N literals into the
    * generated code (at 512 strata the three band maps blow Janino's
    * 64 KB method limit and the whole stage drops to interpreted eval
    * — caught by this round's lap probe: 17–24 process-CPU-seconds
    * for the 5000-row sf0.1 domain cap) and `GetMapValue` probes it
    * by LINEAR scan. [[graft.functions.ConstLongMapLookup]] keeps the
    * single-stratum-occurrence property and makes the probe a hashed
    * O(1) against a reference object: constant generated-code size at
    * any strata count. A missing key still reads NULL, which fails
    * every comparison — the same "not in bands → not selected"
    * semantics (equality-convention parity argued in its scaladoc). */
  private def mapLookup(m: Iterable[(Any, Long)], key: Column): Column =
    org.apache.spark.sql.graft.shims.column(
      graft.functions.ConstLongMapLookup(
        org.apache.spark.sql.graft.shims.expression(key),
        m.iterator.map { case (k, v) =>
          graft.functions.ConstLongMapLookup.internalKey(k) -> v
        }.toArray))

  /** rank ∈ [lo, hi) of the row's stratum's band (false for strata
    * not in `states` and for NULL ranks). */
  private def bandCondOf(stratum: Column, rank: Column,
      states: Map[Any, Band]): Column = {
    if (states.isEmpty) return lit(false)
    val lo = mapLookup(states.map { case (s, b) => s -> b.lo },
      stratum)
    val base = lo.isNotNull && rank >= lo
    val withHi = states.collect {
      case (s, b) if b.hi.isDefined => (s: Any) -> b.hi.get }
    if (withHi.isEmpty) base
    else {
      val hi = mapLookup(withHi, stratum)
      base && (hi.isNull || rank < hi)
    }
  }

  /** The adaptive radix refinement shared by the count-quota
    * ([[thresholdSelect]]) and weight-budget ([[budgetSample]])
    * selectors: narrow each oversized band to the bucket where the
    * stratum's running MEASURE (rows, or a weight column) crosses its
    * `remaining`, until every band holds ≤ `bandCap` ROWS. Each pass
    * aggregates (row count, measure sum) for the next 12 rank bits of
    * the oversized bands only (|strata| × 4096 pairs to the driver),
    * narrows 4096×, and re-prices `remaining` by the measure below
    * the crossing bucket.
    *
    * The ladder starts at the OBSERVED rank range of the oversized
    * bands' own rows, not at bit 52: a fingerprint rank spans the
    * full signed-long domain (ladder stays 52,40,28,16,4,0), but a
    * VALUE rank spanning ~100k would burn 4 no-op passes re-running
    * the stratum/rank expressions (measured on the 5M-url mega-domain
    * cap); one slim min/max agg prices the first histogram to land
    * ≤ 4096 buckets. Callers whose rank IS a full-domain hash
    * ([[hashThresholdSelect]], [[budgetSample]]) pass
    * `fullRangeRank = true` to skip the pricing scan — its answer is
    * always 52 for a fingerprint, so the pass would be one wasted
    * full read of (stratum, rank) per selector call. Rank TIES wider
    * than `bandCap` stop the ladder at shift 0 with a band bigger
    * than `bandCap` — still correct, the boundary window just covers
    * the tie group. */
  private def refineBands(df: DataFrame, stratum: Column, rank: Column,
      measure: Column, bands0: Map[Any, Band],
      bandCap: Long, fullRangeRank: Boolean = false): Map[Any, Band] = {
    var bands = bands0
    var shift =
      if (fullRangeRank || bands.values.forall(_.size <= bandCap)) 52
      else {
        // price from the OVERSIZED strata's rows only — a global
        // min/max would let one out-of-band outlier stratum inflate
        // the range back to ~2^63 and re-buy the no-op passes this
        // exists to skip
        val mm = df.filter(bandCondOf(stratum, rank,
            bands.filter(_._2.size > bandCap)))
          .select(min(rank), max(rank)).head()
        if (mm.isNullAt(0)) 52
        else {
          val range = BigInt(mm.getLong(1)) - BigInt(mm.getLong(0))
          math.max(0, math.min(52, range.bitLength - 12))
        }
      }
    while (shift >= 0 && bands.values.exists(_.size > bandCap)) {
      val oversized = bands.filter(_._2.size > bandCap)
      val hist: Map[Any, Array[(Long, Long, Long)]] = df
        .filter(bandCondOf(stratum, rank, oversized))
        .groupBy(stratum.as("__s"), shiftright(rank, shift).as("__bk"))
        .agg(count(lit(1)).as("__c"), sum(measure).as("__m"))
        .collect()
        .groupBy(_.get(0))
        .map { case (s, rows) => s -> rows.map(r =>
          (r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1) }
      bands = bands.map { case (s, b) =>
        s -> (hist.get(s).filter(_ => b.size > bandCap) match {
          case Some(buckets) =>
            // bucket where the running measure crosses `remaining`
            val idx = {
              var cum = 0L; var i = 0; var c = -1
              while (i < buckets.length) {
                if (c < 0) {
                  cum += buckets(i)._3
                  if (cum >= b.remaining) c = i
                }
                i += 1
              }
              if (c < 0) buckets.length - 1 else c
            }
            val belowAdd = buckets.take(idx).map(_._3).sum
            val (bk, cnt, _) = buckets(idx)
            val hiBig = (BigInt(bk) + 1) << shift
            val newHi =
              if (hiBig > BigInt(Long.MaxValue)) b.hi
              else Some(b.hi.fold(hiBig.toLong)(math.min(_, hiBig.toLong)))
            Band(math.max(b.lo, bk << shift), newHi, cnt,
              b.remaining - belowAdd)
          case None => b
        })
      }
      // full-range ladder: 52, 40, 28, 16, 4, 0; a range-priced start
      // descends the same way and still ends on an exact 0 pass
      shift = if (shift == 0) -1 else math.max(0, shift - 12)
    }
    bands
  }

  /** EXACT "n smallest (fingerprint, tiebreak) rows per stratum"
    * WITHOUT a per-stratum global sort — the scale-safe core behind
    * [[stratifiedTopN]] / [[mixtureSample]] / [[temperatureSample]].
    *
    * A `row_number() OVER (PARTITION BY stratum ORDER BY fp)` window
    * puts each stratum in ONE task; with 5-50 sources at 100 TB that
    * is a multi-TB single-task sort. Instead, locate the quota-th
    * smallest fingerprint per stratum by adaptive radix histogram:
    * each pass aggregates counts of the next 12 fingerprint bits
    * (|strata| × 4096 counters to the driver — human-sized), narrows
    * each stratum's candidate band 4096×, and stops once every band
    * holds ≤ `bandCap` rows. Selection is then rows with
    * `fp < band.lo` (a pure filter, no shuffle beyond the scan) plus
    * a window over ONLY the bounded band for the exact boundary
    * (fingerprint ties included). ≤ ceil(64/12) = 6 passes worst
    * case; in practice 0 passes when strata fit under `bandCap`
    * (small data degenerates to the plain window) and 1-2 passes at
    * scale, each a map-side-combined aggregate. Result set is
    * bit-identical to the window formulation on any pass count —
    * the oracle queries pin this by forcing a tiny `bandCap`.
    *
    * Two contracts callers must know: (1) rows with a NULL sampling
    * key are never selected (a null fingerprint fails every band
    * predicate) — callers enforce the same on their fallback paths so
    * the choice of path can't change the result; (2) thresholds are
    * computed EAGERLY from the data as of this call and baked into
    * the returned plan as literals — re-executing the result after
    * appending to the underlying files can return more than the
    * quota (re-call to re-snapshot; determinism of the selected set
    * for FIXED input files is the property the oracle certifies). */
  private def hashThresholdSelect(df: DataFrame, stratum: Column,
      key: Column, tiebreak: Column, quotas: Map[Any, Long],
      counts: Map[Any, Long], bandCap: Long): DataFrame =
    thresholdSelect(df, stratum, vfs_fingerprint(key), tiebreak,
      quotas, counts, bandCap, fullRangeRank = true)

  /** [[hashThresholdSelect]] with the ordering EXPOSED: `rank` is any
    * LongType column (smaller = preferred) — the radix-histogram
    * refinement never assumed the rank was a hash, only that it is a
    * signed 64-bit value. Heavy rank TIES (e.g. a milli-scaled
    * quality score where thousands of rows share one value) stop the
    * narrowing at shift 0 with a band wider than `bandCap`; the
    * boundary window then covers the whole tie group — still correct,
    * just more windowed rows, and only for strata whose boundary
    * lands inside a tie. */
  private def thresholdSelect(df: DataFrame, stratum: Column,
      rank: Column, tiebreak: Column, quotas: Map[Any, Long],
      counts: Map[Any, Long], bandCap: Long,
      fullRangeRank: Boolean = false): DataFrame = {
    require(bandCap >= 1, "[GRAFT] bandCap must be >= 1")
    WorkCols.requireFree(df, "__rn", "__bk", "__s")
    val fp = rank
    val bands0: Map[Any, Band] = quotas.flatMap { case (s, q) =>
      val n = counts.getOrElse(s, 0L)
      if (q <= 0 || n == 0L) None
      else Some(s -> Band(Long.MinValue, None, n, q))
    }
    if (bands0.isEmpty) return df.filter(lit(false))
    // the measure IS the row count here; [[budgetSample]] passes its
    // weight column through the same refinement
    val bands = refineBands(df, stratum, fp, lit(1L), bands0, bandCap,
      fullRangeRank)

    val remainingCol = coalesce(
      mapLookup(bands.map { case (s, b) => s -> b.remaining },
        stratum), lit(0L))
    val win = Window.partitionBy(stratum).orderBy(fp.asc, tiebreak.asc)
    val band = df.filter(bandCondOf(stratum, fp, bands))
      .withColumn("__rn", row_number().over(win))
      .filter(col("__rn") <= remainingCol)
      .drop("__rn")
    if (bands.values.forall(_.lo == Long.MinValue)) band
    else {
      val lo = mapLookup(bands.map { case (s, b) => s -> b.lo },
        stratum)
      df.filter(lo.isNotNull && fp < lo).unionByName(band)
    }
  }

  /** Deterministic stratified sample: the `n` rows of each stratum
    * with the smallest (hash, tiebreak) — every engine picks the same
    * rows. Low-cardinality strata (≤ `maxStrata` observed) go through
    * [[hashThresholdSelect]], so no stratum is ever a single-task
    * sort; with MORE than `maxStrata` strata the plain per-stratum
    * window is already many small partitions and is used as-is.
    * `bandCap` bounds the only windowed row count on the threshold
    * path. Strata with a null key are dropped on the threshold path
    * (a training mixture has named sources). */
  def stratifiedTopN(df: DataFrame, stratum: Column, key: Column,
      tiebreak: Column, n: Int, bandCap: Long = 100000L,
      maxStrata: Int = 512): DataFrame =
    // same null contract on both paths: a null key hashes to a null
    // rank, which rankedTopN never selects; the rank is a fingerprint
    // (full signed-long domain), so the range-pricing scan is skipped
    rankedTopNImpl(df, stratum, vfs_fingerprint(key), tiebreak, n,
      bandCap, maxStrata, fullRangeRank = true)

  /** Deterministic per-stratum TOP-N BY AN EXPLICIT RANK — e.g. "keep
    * each domain's 1000 highest-quality pages": the `n` rows of each
    * stratum with the smallest (rank, tiebreak). Same scale story as
    * [[stratifiedTopN]] (which is exactly this with rank =
    * fingerprint): low-cardinality strata go through the
    * bounded-histogram [[thresholdSelect]] — a mega-stratum never
    * becomes a single-task window sort — and above `maxStrata`
    * observed strata the plain window is already many small
    * partitions and is used as-is. `rank` must be LongType with
    * smaller preferred (negate for keep-largest); NULL stratum or
    * NULL rank rows are never selected on either path.
    *
    * Each refinement pass re-evaluates `stratum`/`rank` over the
    * band (the pass only READS those two columns, so parquet column
    * pruning keeps the scan slim, but a derived stratum's compute —
    * e.g. registered-domain regexes — runs once per pass). With a
    * mega-stratum forcing the full 52→0 shift ladder that is ~6
    * passes: callers capping BY an expensive derived stratum at
    * extreme scale should materialize it to a column first. */
  def rankedTopN(df: DataFrame, stratum: Column, rank: Column,
      tiebreak: Column, n: Int, bandCap: Long = 100000L,
      maxStrata: Int = 512): DataFrame =
    rankedTopNImpl(df, stratum, rank, tiebreak, n, bandCap, maxStrata,
      fullRangeRank = false)

  private def rankedTopNImpl(df: DataFrame, stratum: Column,
      rank: Column, tiebreak: Column, n: Int, bandCap: Long,
      maxStrata: Int, fullRangeRank: Boolean): DataFrame = {
    // STAGE stratum and rank as work-column ATTRIBUTES first:
    // [[thresholdSelect]]'s band predicate and histogram repeat the
    // stratum expression once PER STRATUM — for a derived stratum
    // like registered-domain-of-URL (a multi-regexp tree) that
    // duplication built a 46 MiB task binary and re-ran the regexes
    // per comparison; as attributes each band term is two
    // column reads
    WorkCols.requireFree(df, "__rn", "__st", "__rk")
    // rank staged AS LONG: the histogram buckets and the range agg
    // read it as a long, and an int rank would overflow neither but
    // type-mismatch both
    val staged = df.withColumn("__st", stratum)
      .withColumn("__rk", rank.cast("long"))
    val st = col("__st")
    val rk = col("__rk")
    val observed = staged.groupBy(st.as("__s")).count()
      .limit(maxStrata + 1).collect()
    val out =
      if (observed.length > maxStrata) {
        val w = Window.partitionBy(st).orderBy(rk.asc, tiebreak.asc)
        staged.filter(st.isNotNull && rk.isNotNull)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= n)
          .drop("__rn")
      } else {
        val cm: Map[Any, Long] =
          observed.filter(_.get(0) != null)
            .map(r => r.get(0) -> r.getLong(1)).toMap
        thresholdSelect(staged, st, rk, tiebreak,
          cm.map { case (s, _) => s -> n.toLong }, cm, bandCap,
          fullRangeRank)
      }
    out.drop("__st", "__rk")
  }

  /** [[rankedTopN]] with the expensive-derived-stratum recipe
    * AUTOMATED: materialize the slim (id, stratum, rank, tiebreak)
    * frame ONCE (eager `localCheckpoint` — a real barrier
    * CollapseProject cannot re-inline through), run the whole
    * selection over those four materialized columns, then LEFT SEMI
    * join the surviving ids back onto `df`. Exists because the
    * optimizer re-inlines staged work columns into every refinement
    * pass's filter/histogram: a mega-stratum forcing the full shift
    * ladder re-ran a registered-domain regex tree ~6× over the band —
    * ScaleProbe measured 33.1 s expression-form vs 3.1 s over a
    * materialized column at 5M URLs, with materialization itself
    * costing one ~3.3 s pass.
    *
    * Contract: `idCol` must be UNIQUE and NON-NULL (the semi join
    * brings back every row sharing a surviving id — duplicates would
    * silently widen the selection). `checkIds = true` ENFORCES it
    * with one count-vs-count-distinct aggregate over the ALREADY
    * materialized slim frame — an in-memory pass over four slim
    * columns, not a re-derivation of the expensive stratum — and
    * fails loudly naming the duplicate count; the default leaves it
    * off for callers who own the id column (a store's contiguous
    * ids) and documents the risk instead.
    *
    * Durability mirrors [[curriculumInterleave]]'s one-line choice:
    * the default (`reliable = false`) localCheckpoints the slim frame
    * — its blocks free when the result is dropped (ContextCleaner),
    * and executor loss mid-selection discards them, so the caller
    * redoes the scan (selection is deterministic, the re-run picks
    * the same rows). `reliable = true` checkpoints the slim frame to
    * `SparkContext.setCheckpointDir`'s fault-tolerant storage instead
    * (fails loudly up front when none is set), so a 100 TB cap job
    * survives executor loss without re-deriving the stratum.
    * RETENTION: reliable checkpoint files are only auto-deleted when
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is enabled —
    * otherwise each reliable call leaves one slim-frame copy in the
    * checkpoint dir until the caller cleans it (the
    * [[curriculumInterleave]] retention story; the slim frame is four
    * columns, not the corpus, so the copy is small). Use when
    * `stratum`/`rank` are expensive DERIVED expressions; for plain
    * columns the direct form avoids the extra join. */
  def rankedTopNMaterialized(df: DataFrame, stratum: Column,
      rank: Column, tiebreak: Column, idCol: String, n: Int,
      bandCap: Long = 100000L, maxStrata: Int = 512,
      reliable: Boolean = false, checkIds: Boolean = false): DataFrame = {
    WorkCols.requireFree(df, "__mid", "__ms", "__mr", "__mtb")
    val spark = df.sparkSession
    if (reliable) require(
      spark.sparkContext.getCheckpointDir.isDefined,
      "[GRAFT] rankedTopNMaterialized(reliable = true) needs " +
        "SparkContext.setCheckpointDir (fault-tolerant storage) — " +
        "set it, or drop reliable to accept a localCheckpoint")
    val slim0 = df.select(col(idCol).as("__mid"), stratum.as("__ms"),
      rank.cast("long").as("__mr"), tiebreak.as("__mtb"))
    val slim =
      if (reliable) {
        // the curriculumInterleave reliable recipe: persist BEFORE
        // checkpoint() (the checkpoint writer is a separate job after
        // the materializing count — unpersisted, it would re-run the
        // expensive stratum derivation once more), release the cache
        // once the checkpoint holds the blocks
        val rdd = slim0.rdd
        rdd.persist(StorageLevel.MEMORY_AND_DISK)
        try { rdd.checkpoint(); rdd.count() }
        finally rdd.unpersist(blocking = false)
        spark.createDataFrame(rdd, slim0.schema)
      } else slim0.localCheckpoint()
    if (checkIds) {
      val c = slim.agg(count(lit(1)).as("n"),
        count_distinct(col("__mid")).as("d")).head()
      val (total, distinct) = (c.getLong(0), c.getLong(1))
      require(total == distinct,
        s"[GRAFT] rankedTopNMaterialized: idCol '$idCol' is not " +
          s"unique/non-null ($total rows, $distinct distinct non-null " +
          "ids) — the semi join would silently widen the selection")
    }
    val picked = rankedTopNImpl(slim, col("__ms"), col("__mr"),
      col("__mtb"), n, bandCap, maxStrata, fullRangeRank = false)
    df.join(picked.select(col("__mid")), col(idCol) === col("__mid"),
      "left_semi")
  }

  /** Deterministic source-mixture sampling — domain reweighting for a
    * training mix: keep the LARGEST subsample whose per-source
    * composition matches the target `weights` (normalized). The
    * binding source is the one with the least data relative to its
    * weight: N* = min_s ⌊n_s / w_s⌋, quota_s = ⌊w_s · N*⌋; each
    * source keeps its quota rows with the smallest (hash, tiebreak),
    * so the pick is engine-portable and append-stable in the same
    * sense as [[stratifiedTopN]].
    *
    * Cost: one count aggregation (|sources| rows to the driver — a
    * mixture spec is always human-sized) + the
    * [[hashThresholdSelect]] passes (0 when every source fits under
    * `bandCap`, so small data is a single window scan; 1-2 bounded
    * histogram aggregates at scale — never a per-source single-task
    * sort). Sources absent from `weights` are dropped — the mixture
    * defines the corpus. */
  def mixtureSample(df: DataFrame, source: Column, key: Column,
      tiebreak: Column, weights: Map[String, Double],
      bandCap: Long = 100000L): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "[GRAFT] mixture weights must be positive")
    WorkCols.requireFree(df, "__rn")
    val norm = weights.values.sum
    val w = weights.map { case (s, x) => s -> x / norm }
    // count SELECTABLE rows only: a null sampling key can never be
    // picked by hashThresholdSelect (null fingerprints fail every band
    // predicate), so null-key rows in a source would inflate its count
    // and skew nStar/quotas away from the requested mixture
    val counts = df.filter(source.isInCollection(w.keys.toSeq) &&
        key.isNotNull)
      .groupBy(source.as("__src")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nStar = w.map { case (s, ws) =>
      math.floor(counts.getOrElse(s, 0L) / ws).toLong
    }.min
    val quotas = w.map { case (s, ws) =>
      s -> math.floor(ws * nStar).toLong }
    hashThresholdSelect(
      df.filter(source.isInCollection(w.keys.toSeq)),
      source, key, tiebreak,
      quotas.map { case (s, q) => (s: Any) -> q },
      counts.map { case (s, n) => (s: Any) -> n }, bandCap)
  }

  /** Temperature-based source rebalancing (the multilingual α-smoothing
    * of mBERT/XLM: target share ∝ n_s^α, α ∈ (0,1] — α=1 keeps the
    * natural skew, α→0 approaches uniform): derive the weights from
    * the observed per-source counts, then take the largest matching
    * subsample via [[mixtureSample]]. α = 0.5 (the common default)
    * goes through `sqrt`, which is CORRECTLY-ROUNDED IEEE in every
    * engine — and the weight normalization folds in sorted-source
    * order — so the derived quotas, and therefore the hash-picked
    * rows, are engine-portable (other α use `pow`, which is only
    * 1-ulp-accurate and not oracle-pinnable). Count collection is
    * |sources| rows — a mixture spec is always human-sized. */
  def temperatureSample(df: DataFrame, source: Column, key: Column,
      tiebreak: Column, alpha: Double = 0.5,
      bandCap: Long = 100000L): DataFrame = {
    require(alpha > 0 && alpha <= 1,
      "[GRAFT] temperatureSample: alpha must be in (0, 1]")
    val counts = df.groupBy(source.as("__src")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    require(counts.nonEmpty, "[GRAFT] temperatureSample: empty input")
    def powA(x: Double): Double =
      if (alpha == 0.5) math.sqrt(x) else math.pow(x, alpha)
    // ListMap: normalization inside mixtureSample folds the weights in
    // THIS (sorted) order — the property the oracle mirror relies on
    mixtureSample(df, source, key, tiebreak,
      scala.collection.immutable.ListMap(
        counts.map { case (s, n) => s -> powA(n.toDouble) }: _*),
      bandCap)
  }

  /** Deterministic per-stratum WEIGHT-BUDGET sampling — "fill a 10B-
    * token budget from each source": walk each stratum's rows in
    * (content-hash, tiebreak) order and keep every row whose
    * cumulative weight BEFORE it is still under the stratum's budget
    * (so the budget-crossing row is kept — budgets are targets, the
    * overshoot is at most one document; zero-weight rows ride along
    * free while their hash position is under the budget). Strata
    * absent from `budgets` (or with budget ≤ 0) are dropped — the
    * budget map defines the corpus, the [[mixtureSample]] convention.
    * Selection is engine-portable and append-stable in the same
    * sense as [[stratifiedTopN]].
    *
    * Scale story: the count-quota operators locate the quota-th
    * smallest hash; this locates the hash where the RUNNING WEIGHT
    * SUM crosses the budget. Same adaptive radix refinement, with
    * per-bucket (row count, weight sum) aggregates — the budget
    * crossing lands in one bucket per pass, narrowed 4096× per pass
    * until the candidate band holds ≤ `bandCap` rows; only that band
    * is ever windowed for the exact running sum. No per-stratum
    * single-task sort at any data size.
    *
    * `weight` must be non-null and ≥ 0 for every in-scope row
    * (checked in the same slim aggregate that sizes the strata — a
    * negative weight would un-monotone the running sum and make the
    * crossing ill-defined; fails loudly naming the stratum). Rows
    * with a NULL `key` are never selected and their weight never
    * counts — the [[rankedTopN]] null contract extended to the
    * budget. */
  def budgetSample(df: DataFrame, stratum: Column, weight: Column,
      key: Column, tiebreak: Column, budgets: Map[String, Long],
      bandCap: Long = 100000L): DataFrame = {
    require(budgets.nonEmpty, "[GRAFT] budgetSample: empty budget map")
    require(bandCap >= 1, "[GRAFT] budgetSample: bandCap must be >= 1")
    WorkCols.requireFree(df, "__rn", "__st", "__rk", "__wt")
    val staged = df.withColumn("__st", stratum)
      .withColumn("__rk", vfs_fingerprint(key))
      .withColumn("__wt", weight.cast("long"))
    val st = col("__st")
    val rk = col("__rk")
    val wt = col("__wt")
    val inScope = st.isInCollection(budgets.keys.toSeq)

    // one slim pass: per-stratum row count + total weight + the
    // weight contract (non-null, >= 0). NULL-KEY rows (null
    // fingerprint) are out of scope EVERYWHERE — never selected on
    // either path AND their weight never counts toward the total that
    // picks the path (counting it would let unselectable rows consume
    // budget on paper, and a row's fate could flip between the full
    // and banded regimes on unrelated volume — the rankedTopN null
    // contract, applied to weights too)
    val obs = staged.filter(inScope && rk.isNotNull)
      .groupBy(st.as("__s"))
      .agg(count(lit(1)).as("__n"), sum(wt).as("__w"),
        min(wt).as("__mn"),
        sum(when(wt.isNull, 1L).otherwise(0L)).as("__nulls"))
      .collect()
    obs.foreach { r =>
      require(r.getLong(4) == 0L && !r.isNullAt(3) && r.getLong(3) >= 0L,
        s"[GRAFT] budgetSample: stratum ${r.get(0)} has NULL or " +
          "negative weights — weights must be non-null and >= 0")
    }

    // strata whose total weight fits the budget pass WHOLE; the rest
    // need a hash-threshold cut
    val totals = obs.map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // STRICT: a stratum whose total exactly equals its budget still
    // goes through the windowed rule — its trailing zero-weight rows
    // sit at before == budget and must drop under `before < budget`
    val full: Map[String, Long] = totals.collect {
      case (s, (_, w)) if budgets.getOrElse(s, 0L) > 0L &&
        w < budgets(s) => s -> 1L
    }
    // band state per cut stratum: the budget crossing's hash lies in
    // [lo, hi); `remaining` = budget minus the weight below lo — the
    // SAME [[refineBands]] machinery as the count selectors, with the
    // weight column as the measure
    val bands0: Map[Any, Band] = totals.collect {
      case (s, (n, w)) if budgets.getOrElse(s, 0L) > 0L &&
        w >= budgets(s) =>
        (s: Any) -> Band(Long.MinValue, None, n, budgets(s))
    }
    // rk is a fingerprint (full signed-long domain) — skip the
    // range-pricing scan, its answer is always shift 52
    val bands = refineBands(staged, st, rk, wt, bands0, bandCap,
      fullRangeRank = true)

    // everything below a cut band's lo is inside the budget; the band
    // itself is windowed for the exact running-sum boundary
    val fullCond =
      if (full.isEmpty) lit(false)
      else mapLookup(full.map { case (s, v) =>
        (s: Any) -> v }, st).isNotNull
    val belowCond =
      if (bands.isEmpty) lit(false)
      else {
        val lo = mapLookup(bands.map { case (s, b) =>
          s -> b.lo }, st)
        lo.isNotNull && rk < lo
      }
    // rk.isNotNull: fullCond tests only the stratum, so without it a
    // null-key row would pass whole strata but drop in banded ones
    val freePass = staged.filter(rk.isNotNull && (fullCond || belowCond))
    val banded =
      if (bands.isEmpty) freePass.filter(lit(false))
      else {
        val win = Window.partitionBy(st).orderBy(rk.asc, tiebreak.asc)
        val before = coalesce(sum(wt).over(
          win.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
        val rem = mapLookup(bands.map { case (s, b) =>
          s -> b.remaining }, st)
        staged.filter(bandCondOf(st, rk, bands))
          .withColumn("__rn", before)
          .filter(col("__rn") < rem)
          .drop("__rn")
      }
    freePass.unionByName(banded).drop("__st", "__rk", "__wt")
  }

  /** Deterministic negative-pair mining for contrastive training: for
    * each anchor, up to `k` pseudo-random partner ids drawn as
    * `portableWordHash(anchor ":" j) mod n` over a DENSE id domain
    * [0, n) — no RNG, reproducible on any engine/cluster, and a pure
    * projection (the caller joins partner payloads back by id, which
    * Catalyst plans as a hash join on the slim pair list). Draws that
    * hit the anchor itself are dropped (hence "up to" k; callers
    * needing exactly k over-draw and window-trim), and distinct j's
    * can collide on the same partner — harmless for contrastive use.
    * Near-duplicate anchors make FALSE negatives: anti-join the pair
    * list against a dedup pair list (exactGroups / minHashLsh /
    * semanticDedup output) before training. Non-dense id spaces:
    * remap through `row_number() - 1` first. Output:
    * (anchor, j, negative). */
  def negativePairs(df: DataFrame, k: Int, n: Long,
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && n >= 2,
      "[GRAFT] negativePairs: need k >= 1 and an id domain of >= 2")
    df.select(col(idCol).as("anchor"))
      .select(col("anchor"),
        explode(sequence(lit(0L), lit(k - 1L))).as("j"))
      .select(col("anchor"), col("j"),
        pmod(Dedup.portableWordHash(
            concat_ws(":", col("anchor").cast("string"),
              col("j").cast("string"))),
          lit(n)).as("negative"))
      .filter(col("negative") =!= col("anchor"))
  }

  /** Deterministic curriculum interleave for a training order: within
    * each source, rows rank by `score` DESC (best first, `tiebreak`
    * ASC breaks exactly); the output sorts by (rank, source,
    * tiebreak), so ANY prefix of the training stream is
    * simultaneously quality-leaning and source-balanced — the usual
    * curriculum + domain-mixing requirement.
    *
    * NO per-source window anywhere: `row_number() OVER (PARTITION BY
    * source)` puts each source in one task — a multi-TB single-task
    * sort for a 5-50-source mixture at 100 TB. Instead the rank uses
    * the zipWithIndex construction over a RANGE-PARTITIONED global
    * sort on (source, score DESC, tiebreak): same-source rows land
    * contiguous and ordered across bounded-size partitions; one small
    * per-(partition, source-run) count pass (O(partitions + sources)
    * rows to the driver — runs are contiguous, so at most one extra
    * entry per partition boundary) yields broadcast start offsets, and
    * a second pass assigns `rank = offset + local position`. The sort
    * output is persisted (memory-and-disk) between the two passes —
    * range boundaries are sampled, so an unpersisted recompute could
    * repartition differently and corrupt the offsets; this is the same
    * contract as RDD.zipWithIndex. The ranked result is then
    * local-checkpointed and the intermediate cache + offsets broadcast
    * released immediately — storage lifetime is the RESULT's
    * reachability (ContextCleaner), not the session. Cost: one
    * range-partitioned sort + the final (rank, source)
    * range-partitioned orderBy — no single-partition exchange
    * anywhere. Output: input columns + `rank` (1-based within
    * source).
    *
    * The caller's `source`/`score`/`tiebreak` columns are applied ONLY
    * against the input `df` (so resolved references like `df("src")`
    * are fine); the final orderBy runs on the REBUILT ranked frame
    * (fresh exprIds after the RDD zip) and therefore orders by the
    * carried work columns, never by the caller's references.
    *
    * Durability is the caller's one-line choice: the default
    * (`reliable = false`) LOCAL-checkpoints the ranked result —
    * executor loss makes it unrecoverable (recompute-from-source is
    * deliberately severed), and at 100 TB a routine spot-kill
    * mid-training-prep means redoing the global sort; re-call to
    * rebuild. `reliable = true` uses a RELIABLE checkpoint instead
    * (blocks written to `SparkContext.setCheckpointDir`'s fault-
    * tolerant storage, so the ordering survives any executor loss) —
    * fails loudly up front when no checkpoint dir is set. RETENTION:
    * the ContextCleaner only deletes reliable checkpoint data when
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is enabled —
    * without it, every reliable call leaves a full serialized copy of
    * the ranked frame in the checkpoint dir. At 100 TB that
    * accumulation is real storage: either enable the conf, or delete
    * the run's files after the output is consumed (the checkpointed
    * RDD's path is `rdd.getCheckpointFile`; each run writes under its
    * own `rdd-<id>` subdirectory of the checkpoint dir). Both modes
    * produce the identical ordering (spec-pinned). */
  def curriculumInterleave(df: DataFrame, source: Column, score: Column,
      tiebreak: Column, reliable: Boolean = false): DataFrame = {
    WorkCols.requireFree(df, "rank", "__csrc", "__ctie")
    if (reliable) require(
      df.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "[GRAFT] curriculumInterleave(reliable = true) needs " +
        "SparkContext.setCheckpointDir (fault-tolerant storage) — " +
        "set it, or drop reliable to accept a localCheckpoint")
    val spark = df.sparkSession
    val tagged = df.withColumn("__csrc", source.cast("string"))
      .withColumn("__ctie", tiebreak)
      .sort(col("__csrc").asc, score.desc, col("__ctie").asc)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the sorted input copy lives only until the ranked output is
    // checkpointed: released in `finally`, on failure too
    try {
      val srcPos = tagged.schema.fieldIndex("__csrc")
      // per-partition contiguous (source, count) runs, in row order
      val runs: Array[(Int, Seq[(String, Long)])] =
        tagged.rdd.mapPartitionsWithIndex { (pid, it) =>
          val acc = scala.collection.mutable.LinkedHashMap.empty[String, Long]
          it.foreach { r =>
            val s = r.getString(srcPos)
            acc.update(s, acc.getOrElse(s, 0L) + 1L)
          }
          Iterator.single(pid -> acc.toSeq)
        }.collect()
      val offsets: Map[(Int, String), Long] = {
        val perSrc = scala.collection.mutable.HashMap.empty[String, Long]
        val b = Map.newBuilder[(Int, String), Long]
        runs.sortBy(_._1).foreach { case (pid, rs) =>
          rs.foreach { case (s, c) =>
            val off = perSrc.getOrElse(s, 0L)
            b += ((pid, s) -> off)
            perSrc.update(s, off + c)
          }
        }
        b.result()
      }
      val bc = spark.sparkContext.broadcast(offsets)
      val outSchema = tagged.schema.add("rank", LongType, nullable = false)
      val rankedRdd = tagged.rdd.mapPartitionsWithIndex { (pid, it) =>
        val local = scala.collection.mutable.HashMap.empty[String, Long]
        it.map { r =>
          val s = r.getString(srcPos)
          val i = local.getOrElse(s, 0L)
          local.update(s, i + 1L)
          Row.fromSeq(r.toSeq :+ (bc.value((pid, s)) + i + 1L))
        }
      }
      // pin the RANKED output (lineage truncated) and release the
      // input-sized intermediate NOW: without this, the sorted input
      // copy stays cached for the whole session (the result can't
      // recompute without it, so it could never be freed later). The
      // checkpointed blocks are freed by the ContextCleaner when the
      // caller drops the returned DataFrame. The offsets broadcast is
      // only unpersisted (executor copies dropped, re-broadcastable):
      // the checkpointed RDD's closure still references it, so destroy()
      // would poison later task serialization.
      // reliable mode persists BEFORE checkpoint(): Spark's checkpoint
      // writer is a SEPARATE job after the materializing action, and an
      // unpersisted RDD would recompute every partition for it (the
      // localCheckpoint branch gets the cache implicitly)
      if (reliable) {
        rankedRdd.persist(StorageLevel.MEMORY_AND_DISK)
        try { rankedRdd.checkpoint(); rankedRdd.count() }
        finally rankedRdd.unpersist(blocking = false)
      } else {
        rankedRdd.localCheckpoint()
        rankedRdd.count() // materialize the checkpoint
      }
      bc.unpersist(blocking = false)
      // order by the CARRIED columns: the rebuilt frame has fresh
      // exprIds, so a caller-resolved `source`/`tiebreak` (e.g.
      // df("src")) would fail analysis here — __csrc/__ctie resolve by
      // name against this frame by construction
      spark.createDataFrame(rankedRdd, outSchema)
        .orderBy(col("rank").asc, col("__csrc").asc, col("__ctie").asc)
        .drop("__csrc", "__ctie")
    } finally tagged.unpersist(blocking = false)
  }
}
