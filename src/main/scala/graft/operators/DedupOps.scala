package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ShingleExpressions

/** Deduplication operators over `documents` (LLM-data-pipeline extensions).
  *
  * Scale design: every variant reduces to (a) a deterministic per-row
  * signature computed map-side with no shuffle, then (b) shuffles keyed on
  * signatures/buckets/doc ids. Nothing collects to the driver, nothing is
  * quadratic in corpus size (candidate generation is bucket-local), and —
  * critically — no corpus-sized relation is ever `broadcast(...)`: the only
  * broadcast-eligible sides are candidate-pair tables, which AQE may elect
  * to broadcast at runtime when they turn out small.
  */
/** Conf gate for the dedup verified-pairs projection cache (r15 — the
  * [[GraphProjectionCache]] device applied to the dedup family): the
  * minhash pipeline's verified pairs are rebuilt identically by THREE
  * registry queries (dedup_near_minhash, dedup_minhash_clusters,
  * corpus_dup_hist) and the ngram-jaccard pairs by two more
  * (dedup_ngram_jaccard, dedup_jaccard_clusters). DEFAULT ON; the
  * plan-shape specs clone a conf-off session to assert the uncached
  * pipeline. Mechanics in [[graft.plans.ProjectionCache]]. */
private[graft] object DedupPairsCache {
  private[graft] val ConfKey = "spark.graft.dedup.pairsCache"
}

object DedupOps {

  /** Re-attach join strategy knob — `spark.graft.dedup.reattach`:
    * `auto` (default: no hint; AQE picks broadcast vs shuffle from
    * runtime sizes), `broadcast` (force the candidate/pair side to
    * broadcast — for operators who KNOW their candidate set is tiny and
    * want the exchange gone), `shuffle` (force sort-merge — safe at any
    * candidate volume, e.g. a boilerplate-heavy corpus whose candidate
    * set explodes past executor memory). The hint only ever lands on
    * the candidate side; corpus-sized relations are never broadcast
    * under any mode. */
  private def reattachHint(candidateSide: DataFrame): DataFrame =
    candidateSide.sparkSession.conf
      .get("spark.graft.dedup.reattach", "auto") match {
      case "broadcast" => candidateSide.hint("broadcast")
      case "shuffle"   => candidateSide.hint("shuffle_merge")
      case _           => candidateSide
    }

  /** `dedup_exact`: exact dedup on text, keeping the lowest doc_id.
    * `row_number` over a hash-partitioned window — deterministic keeper,
    * unlike `dropDuplicates` (which keeps an arbitrary first-seen row and
    * is therefore partitioning-dependent). The 100 TB form that avoids
    * shuffling document bodies is [[exactByHash]] (same result, same
    * oracle). */
  def exact(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy("text").orderBy("doc_id")
    documents
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** `dedup_exact_hash`: the 100 TB form of [[exact]] — identical result
    * (same oracle), but the wide shuffle carries (doc_id, xxhash64(text))
    * = 16 bytes/row instead of full documents, and nothing in the plan
    * materializes a per-group collection: duplicate groups are detected
    * with a constant-state `count` aggregate (one (h, cnt) row per hash no
    * matter how often a boilerplate page repeats), and the keeper per
    * duplicate text is `min(doc_id)` — again constant aggregation state
    * with map-side partial combine. A 10⁸-fold duplicated error page
    * costs one accumulator, not one 10⁸-element array (the round-3
    * design's `collect_list` cliff). Document bodies only ever shuffle
    * for the duplicate candidates — a vanishing fraction of a deduped
    * corpus — and the collision tail (~n²/2⁶⁴) settles exactly via the
    * text-keyed min. */
  def exactByHash(documents: DataFrame): DataFrame = {
    val hashed = documents
      .select(col("doc_id"), xxhash64(col("text")).as("h"))
    // hashes held by >1 doc, as row-shaped (h) keys — never an id list
    val multiH = hashed.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("h")
    // unique-text docs pass through on the 8-byte hash key alone
    val singles = hashed.join(multiH, Seq("h"), "left_anti").select("doc_id")
    // duplicate candidates re-attach text; keeper = min(doc_id) per exact
    // text — partial-agg combine collapses a mega-duplicated text inside
    // each map task before the shuffle, so no task ever buffers a group
    val multiKeepers = documents
      .join(hashed.join(multiH, Seq("h"), "left_semi").select("doc_id"),
        Seq("doc_id"), "left_semi")
      .groupBy("text").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    documents
      .join(singles.union(multiKeepers), Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** `dedup_exact_normalized`: the normalized-exact tier between raw
    * exact dedup and near-dup — two documents differing only in case,
    * whitespace runs, or leading/trailing space are duplicates (the
    * standard first pass on web text, where boilerplate re-renders with
    * cosmetic whitespace/case drift).
    *
    * The normalization regexp runs ONCE per document (the round-4 plan
    * instantiated the hashed subplan three times plus a text-keyed keeper
    * groupBy — four regexp passes over full text). One pass computes a
    * 128-bit key (two independently-seeded xxhash64 halves); the keeper
    * per normalized text is a single constant-state `min(doc_id)`
    * aggregation on that 24-byte (k1, k2, doc_id) row — map-side partial
    * combine collapses mega-duplicated texts inside each task, nothing
    * per-group ever materializes, and no text or normalized text ever
    * shuffles. The 128-bit key replaces [[exactByHash]]'s text-keyed
    * collision settle: a false merge needs an xxhash64 collision on BOTH
    * seeds (~n²/2¹²⁸ — beyond 10¹² docs this is < 10⁻¹⁴, vs ~n²/2⁶⁴ for
    * a single 64-bit key, which at corpus scale is a real hazard).
    *
    * scan-guard: dedup_exact_normalized */
  def exactNormalized(documents: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val keepers = documents
      .select(col("doc_id"),
        xxhash64(norm).as("k1"), xxhash64(lit(0x9E3779B9L), norm).as("k2"))
      .groupBy("k1", "k2").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    documents
      .join(keepers, Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** `dedup_minhash_calibration`: ESTIMATOR-CALIBRATION audit of the
    * MinHash pipeline — for every LSH candidate pair (pre-τ, the same
    * band machinery as [[nearMinhash]]), the matching-lane count m,
    * the estimator's implied similarity (m·10⁶ quot 32 = m·31250
    * exactly) and the MEAN exact shingle Jaccard (integer micro) of
    * pairs at that lane count. A calibrated estimator tracks the
    * diagonal; systematic divergence is how you choose nHashes /
    * rowsPerBand / τ with evidence instead of folklore — the audit a
    * production dedup sweep runs before trusting LSH recall claims.
    *
    * Scale shape: identical candidate generation to [[nearMinhash]]
    * (band keys shuffle two longs per row, never arrays); ONE enriched
    * (doc_id, shingles, signature) projection is lazy-pinned — three
    * consumers (band derivation + both pair reattach sides) would
    * otherwise re-run the compiled shingle/minhash kernels per branch.
    * The lane-match count is a per-row-bounded 32-element zip (the
    * BENCH_NOTES residual-HOF class: bounded per row, not corpus
    * fan-out); Jaccard arithmetic is pure integer micro — no float
    * anywhere, so the group means hash-match DuckDB exactly.
    *
    * scan-guard: dedup_minhash_calibration */
  def minhashCalibration(documents: DataFrame, shingleK: Int = ShingleK,
                         nHashes: Int = NHashes,
                         rowsPerBand: Int = RowsPerBand): DataFrame = {
    val nBands = nHashes / rowsPerBand
    val enriched = graft.plans.PlanPins.lazyPin(documents
      .select(col("doc_id"),
        ShingleExpressions.shingleHashes(lower(col("text")), shingleK).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"),
        ShingleExpressions.minHashSignature(col("sh"), nHashes).as("sig")))
    val P = graft.functions.ShingleExpressions.P
    def bandKey(b: Int): Column =
      (0 until rowsPerBand).foldLeft(lit(17L): Column) { (acc, j) =>
        pmod(acc * lit(1009L) +
          element_at(col("sig"), b * rowsPerBand + j + 1), lit(P))
      }
    val banded = enriched.select(
      col("doc_id"),
      explode(
        array((0 until nBands).map(b =>
          struct(lit(b).as("band"), bandKey(b).as("bh"))): _*)).as("bk"))
    val cand = banded.select(col("bk"), col("doc_id").as("id_a"))
      .join(banded.select(col("bk"), col("doc_id").as("id_b")), Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val union = size(col("sh_a")).cast("long") +
      size(col("sh_b")).cast("long") - inter
    reattachHint(
      reattachHint(cand)
        .join(enriched.select(col("doc_id").as("id_a"),
          col("sh").as("sh_a"), col("sig").as("sig_a")), "id_a"))
      .join(enriched.select(col("doc_id").as("id_b"),
        col("sh").as("sh_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("inter", inter)
      .withColumn("uni", union)
      .select(
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), b => b)).as("lane_matches"),
        expr("(inter * 1000000) DIV uni").as("jac_micro"))
      .groupBy("lane_matches")
      .agg(count(lit(1)).as("n_pairs"), sum(col("jac_micro")).as("sj"))
      .select(col("lane_matches"),
        col("n_pairs"),
        expr(s"(CAST(lane_matches AS BIGINT) * 1000000) DIV $nHashes")
          .as("est_micro"),
        expr("sj DIV n_pairs").as("mean_true_micro"))
      .orderBy("lane_matches")
  }

  /** `dedup_near_minhash`'s LSH parameters: word k-shingles, signature
    * length, hashes per band and the verify threshold. The rebuild, the
    * batch replay ([[nearMinhashIncremental]]) and the streaming
    * maintainer read them here, so append ≡ rebuild cannot drift. */
  private[graft] val ShingleK = 3
  private[graft] val NHashes = 32
  private[graft] val RowsPerBand = 4
  private[graft] val JaccardTau = 0.7

  /** `dedup_near_minhash`: near-duplicate clustering via shingling →
    * MinHash → banded LSH. Signature: `nHashes` minhashes over word
    * 3-shingles; bands of `rowsPerBand` hashes are hashed to a band key;
    * docs sharing any band key become candidate pairs; candidates are
    * verified with exact shingle-set Jaccard.
    *
    * Pipeline = map (signatures) → explode bands → shuffle on band key →
    * bucket-local pairs → verify. The only shuffle key in candidate
    * generation is (band, bandHash); skewed mega-buckets (boilerplate
    * docs) would be salted at scale. "Approximate" only in recall — the
    * RESULT is a pure function of the pinned hash/mix/fold constants, so
    * it is oracled EXACTLY against generated full-pipeline SQL
    * ([[graft.OracleGen.nearMinhashSql]]); ScalaTest additionally asserts
    * the planted near-dup pairs are found. */
  def nearMinhash(documents: DataFrame, shingleK: Int = ShingleK,
                  nHashes: Int = NHashes, rowsPerBand: Int = RowsPerBand,
                  jaccardTau: Double = JaccardTau): DataFrame = {
    // compiled custom expressions (graft.functions.ShingleExpressions):
    // the pure-HOF formulation is interpreted per element and profiled
    // ~10s at sf0.1; one compiled pass per row is ~100× cheaper.
    // r17: the stages are the SHARED helpers (shingleSets →
    // minhashSignatures → minhashBanded → verifyJaccard) so the
    // incremental maintainer ([[nearMinhashIncremental]], the streaming
    // twin) folds appends through the IDENTICAL kernels — append ≡
    // rebuild is structural, not two pipelines kept in sync by hand.
    val sh = shingleSets(documents, shingleK)
    val sig = minhashSignatures(sh, nHashes)
    val banded = minhashBanded(sig, nHashes, rowsPerBand)
    val cand = banded.select(col("bk"), col("doc_id").as("id_a"))
      .join(banded.select(col("bk"), col("doc_id").as("id_b")), Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val pairs = verifyJaccard(cand, sh, jaccardTau)
    // r15: the verified-pairs table is a SHARED projection — three
    // registry queries (near_minhash, minhash_clusters, dup_hist)
    // rebuilt this identical LSH pipeline per query at sf10. Routed
    // through the session file cache (the graph-family device): the
    // second consumer scans the tiny pairs parquet instead. Conf-off
    // restores the uncached plan (the plan-shape specs pin it).
    // r16 (ADVICE r15): the projection is written UNSORTED and the
    // terminal order re-applied AFTER the cache read — a parquet
    // round-trip carries no row-order guarantee once the pairs span
    // multiple part files (see ProjectionCache's ORDERING note).
    graft.plans.ProjectionCache("dedup", DedupPairsCache.ConfKey, pairs)
      .orderBy("id_a", "id_b")
  }

  /** Word-shingle hash sets per document — stage 1 of the minhash
    * pipeline: one compiled pass per row; empty-shingle docs (shorter
    * than k words) drop out here on every path. */
  private[graft] def shingleSets(documents: DataFrame,
                                 shingleK: Int): DataFrame =
    documents
      .select(col("doc_id"),
        ShingleExpressions.shingleHashes(lower(col("text")), shingleK).as("sh"))
      .filter(size(col("sh")) > 0)

  /** MinHash signatures over shingle sets — stage 2, map-only. */
  private[graft] def minhashSignatures(sh: DataFrame,
                                       nHashes: Int): DataFrame =
    sh.select(
      col("doc_id"),
      ShingleExpressions.minHashSignature(col("sh"), nHashes).as("sig"))

  /** Banded LSH keys — stage 3: banded rows carry ONLY (band-key,
    * doc_id), so the candidate join shuffles two longs per row, never
    * the shingle arrays. The band key is a polynomial fold of the
    * band's lanes mod P (not the round-4 xxhash64, which no other
    * engine reproduces) — the piece that makes the whole pipeline
    * SQL-oracleable (OracleGen.nearMinhashSql). */
  private[graft] def minhashBanded(sig: DataFrame, nHashes: Int,
                                   rowsPerBand: Int): DataFrame = {
    val nBands = nHashes / rowsPerBand
    val P = graft.functions.ShingleExpressions.P
    def bandKey(b: Int): Column =
      (0 until rowsPerBand).foldLeft(lit(17L): Column) { (acc, j) =>
        pmod(acc * lit(1009L) +
          element_at(col("sig"), b * rowsPerBand + j + 1), lit(P))
      }
    sig.select(
      col("doc_id"),
      explode(
        array((0 until nBands).map(b =>
          struct(lit(b).as("band"), bandKey(b).as("bh"))): _*)).as("bk"))
  }

  /** Exact-Jaccard verification of candidate pairs — stage 4:
    * re-attaches shingle sets via joins keyed on doc_id. The
    * corpus-sized `sh` relation is deliberately NOT broadcast (at
    * 100 TB that materializes the corpus on the driver and every
    * executor — OOM); the candidate-pair side is the small one — by
    * default AQE decides its strategy at runtime, and the
    * spark.graft.dedup.reattach knob (see [[reattachHint]]) can force
    * either way at the 100 TB margin. */
  private[graft] def verifyJaccard(cand: DataFrame, sh: DataFrame,
                                   jaccardTau: Double): DataFrame =
    reattachHint(
      reattachHint(cand)
        .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= jaccardTau)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** The enriched per-document minhash state row — (doc_id, sh, sig):
    * everything the incremental maintainer must retain per document.
    * `sh` (the shingle hash set) is kept because verification is EXACT
    * Jaccard — the signature alone only estimates it; this is the
    * signature-store shape a production LSH dedup service sinks. */
  private[graft] def minhashEnriched(documents: DataFrame,
                                     shingleK: Int = ShingleK,
                                     nHashes: Int = NHashes): DataFrame = {
    val sh = shingleSets(documents, shingleK)
    sh.select(col("doc_id"), col("sh"),
      ShingleExpressions.minHashSignature(col("sh"), nHashes).as("sig"))
  }

  /** One maintenance step for the minhash verified-pairs projection:
    * the NEW pairs contributed by an append `delta` against the sunk
    * signature store — band keys of the delta join against band keys of
    * (store ∪ delta), so only pairs with ≥ 1 delta member are generated
    * (old-old pairs are already in the pairs state and are never
    * re-derived). Candidates canonicalize to id_a < id_b and dedup
    * across band collisions exactly like the rebuild; verification runs
    * the SAME [[verifyJaccard]] kernel over the union store. Because
    * batches partition documents, a pair's later-arriving member
    * assigns it to exactly one append — appended pair sets are disjoint
    * and their union IS the rebuild's pair set (hash-proven by the
    * `dedup_minhash_incr` driver oracle, which is the full-pipeline
    * DuckDB rebuild).
    *
    * Cost per append at 100 TB: one map pass over the delta (shingle +
    * sign), one band-key join of delta-bands vs state-bands (shuffle
    * keyed on (band, bh) — O(|delta| + |state|) rows of two longs), and
    * a verification join bounded by the candidate count — never a
    * rebuild of the historical corpus's pair pipeline.
    *
    * `storeBands` (r18, VERDICT r17 #3): the SUNK banded-key table
    * `(doc_id, bk)` for the store, when the caller maintains one.
    * Without it, the store side's band keys are RE-DERIVED from the
    * signatures on every fold — a per-append recompute that grows with
    * the corpus and was the dominant 100 TB term; with it, the store
    * side is a scan of rows banded exactly once, when their append
    * landed. Banding is deterministic, so either path joins identical
    * keys (spec-pinned: the maintained bands table equals
    * minhashBanded(store) row-for-row). */
  /** `broadcastDelta` (r19, VERDICT r18 Next #7 — the fold
    * decomposition showed the store-side band join is the dominant
    * per-fold term: 2.85 s of a 4.37 s deep fold at sf10): when the
    * delta is ADMISSION-BOUNDED (the streaming maintainer's
    * `bulk_limit` micro-batches — the deployment shape), broadcasting
    * its banded keys turns the candidate join into a map-side probe:
    * the O(|state|) sunk band table STREAMS through the join and never
    * shuffles, so per-fold shuffle cost stops riding total state size.
    * Default OFF: the batch replay slug's deltas are corpus/nBatches —
    * unbounded in the corpus — and a forced broadcast there would OOM
    * exactly at the scale the slug exists to price. */
  private[graft] def deltaMinhashPairs(store: Option[DataFrame],
                                       delta: DataFrame,
                                       nHashes: Int = NHashes,
                                       rowsPerBand: Int = RowsPerBand,
                                       jaccardTau: Double = JaccardTau,
                                       storeBands: Option[DataFrame] = None,
                                       broadcastDelta: Boolean = false)
      : DataFrame = {
    val all = store.map(_.unionAll(delta)).getOrElse(delta)
    val bandedDelta = minhashBanded(delta, nHashes, rowsPerBand)
    val bandedStore = storeBands
      .orElse(store.map(minhashBanded(_, nHashes, rowsPerBand)))
    val bandedAll =
      bandedStore.map(_.unionAll(bandedDelta)).getOrElse(bandedDelta)
    val deltaKeys = bandedDelta.select(col("bk"), col("doc_id").as("id_x"))
    val cand = (if (broadcastDelta)
        bandedAll.select(col("bk"), col("doc_id").as("id_y"))
          .join(broadcast(deltaKeys), Seq("bk"))
      else
        deltaKeys
          .join(bandedAll.select(col("bk"), col("doc_id").as("id_y")), Seq("bk")))
      .filter(col("id_x") =!= col("id_y"))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
      .distinct()
    verifyJaccard(cand, all.select("doc_id", "sh"), jaccardTau)
  }

  /** `dedup_minhash_incr`: the minhash near-dup pair table built by
    * INCREMENTAL MAINTENANCE instead of one rebuild (VERDICT r16 #1 —
    * the r16 co-purchase device generalized to the dedup pair state,
    * which is the highest-frequency real-user append path: daily crawl
    * shards folding into a sunk signature store). The corpus arrives as
    * `nBatches` document appends (doc d rides batch `doc_id % nBatches`)
    * and each append folds through [[deltaMinhashPairs]]: delta band
    * keys join the accumulated signature store, new pairs union into
    * the pairs state. The DRIVER ORACLE is the FULL-PIPELINE REBUILD
    * (OracleGen.nearMinhashSql over all of documents), so the gate's
    * hash match IS append ≡ rebuild at sf0.01; the streaming twin
    * ([[graft.streaming.MinhashMaintenance]]) replays the same fold
    * from bus messages under crash/replay.
    *
    * Cost shape: each append pays one map pass over its slice (the
    * pinned enriched projection — the union of slices scans the corpus
    * once in total) plus band joins of O(|state| + |delta|) banded rows
    * per level; honest for a replayed history, and exactly what the
    * streaming maintainer pays per micro-batch.
    * scan-guard: dedup_minhash_incr */
  def nearMinhashIncremental(documents: DataFrame, nBatches: Int = 4,
                             shingleK: Int = ShingleK, nHashes: Int = NHashes,
                             rowsPerBand: Int = RowsPerBand,
                             jaccardTau: Double = JaccardTau): DataFrame = {
    // each append's enriched projection is pinned: it is consumed by
    // its own band join, by every later level's store side, and by the
    // verify re-attach — unpinned, the shingle kernel would re-run per
    // consumer per level (the graph_triangles O(consumers) scan blowup)
    val appends = (0 until nBatches).map { b =>
      graft.plans.PlanPins.lazyPin(
        minhashEnriched(
          documents.filter(pmod(col("doc_id"), lit(nBatches)) === b),
          shingleK, nHashes))
    }
    var store: Option[DataFrame] = None
    var bands: Option[DataFrame] = None
    var pairs: Option[DataFrame] = None
    appends.foreach { delta =>
      val newPairs = deltaMinhashPairs(store, delta, nHashes, rowsPerBand,
        jaccardTau, storeBands = bands)
      // each append's banded keys are derived ONCE, when it lands, and
      // accumulate as the sunk band table every later fold's store side
      // scans (r18, VERDICT r17 #3 — without this, level L re-banded
      // all L earlier slices: O(nBatches²/2) banding work per replay,
      // the dominant per-append term at corpus scale). Pinned for the
      // same reason the enriched slices are: every later level consumes
      // the accumulated union.
      val bandedDelta = graft.plans.PlanPins.lazyPin(
        minhashBanded(delta, nHashes, rowsPerBand))
      store = Some(store.map(_.unionAll(delta)).getOrElse(delta))
      bands = Some(bands.map(_.unionAll(bandedDelta)).getOrElse(bandedDelta))
      pairs = Some(pairs.map(_.unionAll(newPairs)).getOrElse(newPairs))
    }
    pairs.get.orderBy("id_a", "id_b")
  }

  /** `dedup_simhash`: 64-bit SimHash fingerprints. Each token occurrence
    * votes its hash bits ±1; the sign vector packs into one long. Docs with
    * identical simhash (or small Hamming distance via band-rotation at
    * scale) are near-dups. One compiled pass per document
    * ([[graft.functions.SimHash64Expr]] — replaces the round-1 version's
    * 64 interpreted `aggregate` HOF passes per doc), no shuffle. The
    * fingerprint formula is SQL-reproducible by design, so this is
    * oracled EXACTLY against generated DuckDB SQL
    * ([[graft.OracleGen.simhashSql]]). */
  def simhash(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        ShingleExpressions.simHash64(lower(col("text"))).as("simhash"))
      .orderBy("doc_id")

  /** `dedup_simhash_pairs`: near-duplicate PAIRS from SimHash fingerprints
    * via banded Hamming LSH — completes `simhash` (which only emits
    * fingerprints) into a detector. The 64-bit fingerprint splits into
    * `bands` equal bit-slices; by pigeonhole, any pair with Hamming
    * distance < `bands` shares at least one identical slice, so
    * bucket-joining per slice finds all such pairs exactly (pairs with
    * distance in [bands, maxHamming] are found with LSH probability —
    * the standard recall tradeoff). Candidate rows carry only
    * (band-key, doc_id, 8-byte fingerprint); verification is a popcount
    * of the XOR — no re-attach join at all. Oracled exactly via generated
    * SQL ([[graft.OracleGen.simhashPairsSql]]) plus the ScalaTest
    * planted-pair test. */
  def simhashPairs(documents: DataFrame, bands: Int = 4,
                   maxHamming: Int = 8): DataFrame =
    hammingBandPairs(
      documents.select(col("doc_id").as("id"),
        ShingleExpressions.simHash64(lower(col("text"))).as("fp")),
      bands, maxHamming)

  /** Banded-Hamming pair detector over any table of 64-bit fingerprints
    * (`id`, `fp`) — the LSH core shared by [[simhashPairs]] (text) and
    * [[MultimodalOps.phashPairs]] (images). The fingerprint splits into
    * `bands` equal bit-slices; by pigeonhole any pair with Hamming
    * distance < bands shares a slice, so the per-slice bucket join finds
    * all such pairs exactly; verification is a popcount of the XOR
    * carried on the candidate row — no re-attach join.
    *
    * `maxBucket` (off by default, preserving simhashPairs' oracled
    * semantics) caps a band bucket's membership: a bucket holding more
    * fingerprints than the cap is template mass — identical page
    * chrome, app screenshots, letterhead — whose pair fan-out is
    * quadratic and whose matches carry no dedup signal (the
    * embedding-LSH hot-bucket lesson, docs/SCALE.md). With the cap on,
    * bucket sizes are counted constant-state FIRST and oversized
    * buckets drop before any pair materializes. */
  private[operators] def hammingBandPairs(fps: DataFrame, bands: Int,
      maxHamming: Int, maxBucket: Int = Int.MaxValue): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    val bandBits = 64 / bands
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val banded0 = fps.select(col("id"), col("fp"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("fp"), b * bandBits).bitwiseAND(lit(mask))
            .as("slice"))): _*)).as("bk"))
    val banded =
      if (maxBucket == Int.MaxValue) banded0
      else banded0.join(
        banded0.groupBy("bk").agg(count(lit(1)).as("sz"))
          .filter(col("sz") <= maxBucket).select("bk"),
        Seq("bk"), "left_semi")
    banded.select(col("bk"), col("id").as("id_a"), col("fp").as("fp_a"))
      .join(banded.select(col("bk"), col("id").as("id_b"), col("fp").as("fp_b")),
        Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .distinct() // a pair may collide in several bands
      .filter(col("hamming") <= maxHamming)
      .orderBy("id_a", "id_b")
  }

  /** `dedup_jaccard_clusters`: connected components over near-duplicate
    * PAIRS → per-document cluster assignment (cluster id = lowest doc_id
    * in the component) — the step that turns any pair detector above into
    * an actual dedup decision ("keep the cluster representative").
    *
    * Distributed min-label propagation WITH pointer jumping: every node
    * starts labeled with itself; each round every node takes the min of
    * its own and its neighbors' labels, then dereferences once more
    * through the previous round's label table (`label(label(u))` — the
    * path-halving step of pointer-jumping union-find). Neighbor
    * propagation alone moves a label one hop per round — O(component
    * diameter) rounds, which the round cap of 50 would silently truncate
    * on a >50-hop path component; the jump step contracts label chains
    * geometrically, so convergence is O(log diameter) rounds
    * (DedupSpec pins a 200-node path collapsing to one cluster well
    * inside the cap). Both steps shuffle only (id, label) longs.
    * `localCheckpoint` per round truncates the lineage so the plan
    * doesn't grow with iterations — the same iterative-algorithm
    * shape as MLlib's KMeans. The driver sees only the convergence
    * counter, never the data.
    *
    * ONE job per round: the changed-label count rides the checkpoint's
    * materialization as an observed metric (`Dataset.observe`) instead of
    * a second count job per round (the round-3 shape — a join + count
    * doubling every round's latency). If the metric hasn't landed by the
    * time the action returns (listener delivery is async), the fallback
    * is a count over the already-cached diff — a scan of in-memory
    * partitions, not a recompute.
    *
    * The loop's shuffles are sized to the EDGE COUNT, not the session's
    * `spark.sql.shuffle.partitions`: iterative state is (id, label)
    * longs — orders of magnitude smaller than the corpus the session
    * conf is sized for — and the per-round localCheckpoint
    * materialization does not go through AQE, so nothing coalesces the
    * oversized shuffles at runtime. At sf10 (128 session partitions,
    * ~30k labels) the fixed overhead of 3 joins × 128 tasks × rounds
    * dominated the queries end to end (~80 of ~90 s); ~1M edges per
    * partition (8-byte pairs) keeps each task meaningful at any scale,
    * growing the partition count linearly with the near-dup graph. The
    * sizing lives in a CLONED session's conf — isolated by construction,
    * so the caller's session conf is never touched.
    *
    * OWNERSHIP: the returned frame scans the final label-table
    * checkpoint, which stays pinned in the block store until the caller
    * releases it — call `ColumnBridge.releaseAllCheckpoints(result)`
    * once the rows are consumed and the frame will not be executed
    * again. The Bench/Verify harnesses do this per run (r8 ADVICE: a
    * long-lived JVM that re-invokes without releasing accumulates one
    * label table per invocation). */
  def clusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    // materialize the pair detector ONCE before symmetrizing: the union's
    // two branches are different projections of the same (possibly very
    // expensive) pair plan, and the checkpoint materialization path does
    // not run exchange reuse — un-checkpointed, the detector executes
    // twice (measured: ~2× the whole ngramJaccard stage at sf10)
    val debug = sys.env.contains("GRAFT_CC_DEBUG")
    var t0 = System.nanoTime()
    def mark(what: String): Unit = if (debug) {
      System.err.println(f"[cc] $what ${(System.nanoTime() - t0) / 1e9}%.1f s")
      t0 = System.nanoTime()
    }
    // materialize the detector through cache + count, NOT localCheckpoint:
    // checkpoint materialization bypasses AQE, so an expensive pair plan
    // would execute with fixed-width shuffles and no runtime broadcast
    // conversion (measured 3× the plan's normal runtime at sf10); the
    // count action below runs the plan under AQE and pins the result in
    // the block store, after which every derivative is a cached scan
    val p0 = pairs.select(col("id_a"), col("id_b")).persist()
    val nPairs = p0.count()
    mark(s"pairs materialized ($nPairs)")
    val edges = p0.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p0.select(col("id_b").as("src"), col("id_a").as("dst")))
    // the loop's shuffles are sized from the measured edge count — but
    // under a CLONED session (isolated SQL conf, shared SparkContext and
    // block store), never by mutating the caller's session-global
    // spark.sql.shuffle.partitions: a concurrent query on the same
    // session would silently run loop-sized, and a crash before the
    // restore would leave the session misconfigured (ADVICE r5).
    // Re-rooting the (src, dst) long pairs into the cloned session shares
    // the InternalRow RDD (no conversion); the checkpoint materializes it
    // once and every loop round scans binary checkpoint partitions.
    val loopParts = math.max(4L, math.min(4096L, 2L * nPairs / 1000000L + 4L)).toInt
    val loopSession = spark.newSession()
    loopSession.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    val loopEdges = org.apache.spark.sql.graftbridge.ColumnBridge
      .intoSession(edges, loopSession)
      .localCheckpoint()
    mark("edges symmetrized")
    try { val r = clustersLoop(loopEdges); mark("loop done"); r }
    finally {
      p0.unpersist(blocking = false)
      // the returned label table is a checkpoint scan that no longer
      // references the edge table — drop the edge blocks NOW instead of
      // waiting for a GC the driver's retained query executions can
      // defer indefinitely (r7 verdict #3: re-run block accumulation)
      org.apache.spark.sql.graftbridge.ColumnBridge.releaseCheckpoint(loopEdges)
    }
  }

  private def clustersLoop(edges: DataFrame): DataFrame = {
    // every checkpoint is re-rooted WITHOUT origin statistics
    // (graftbridge.freshLogicalRdd): Dataset.localCheckpoint truncates
    // lineage but copies the parent plan's stats, and labels feeds TWO
    // joins per round — sizeInBytes compounds as a product round over
    // round, its BigInt bit-length doubling per iteration until the
    // driver's join-stats estimation grinds on million-bit integers
    // (caught by the 30-round H-merge fixture in RoundFiveOpsSpec)
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import ColumnBridge.freshLogicalRdd
    // `supersededRound` is the checkpointed table backing the CURRENT
    // labels/frontier; once a round materializes its successor, the old
    // round's blocks are unreachable from any live plan and are released
    // eagerly. Without this every round leaves one full label table in
    // the block store per INVOCATION (nothing un-checkpoints them until
    // RDD GC, which retained query executions defer) — the r7 driver
    // measured dedup_embedding_clusters decaying 13.8→66 s across four
    // in-JVM re-runs from exactly this accumulation (verdict #3).
    var supersededRound = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster", col("doc_id"))
      .localCheckpoint()
    var labels = freshLogicalRdd(supersededRound)
    // DELTA ITERATION (round 6, ROADMAP candidate): the neighbor-min pass
    // joins the edges against the FRONTIER — only nodes whose label
    // changed last round — instead of the full label table. Correct by
    // min-monotonicity: a node's label only needs re-examination when a
    // neighbor's label CHANGED (an unchanged neighbor's value was already
    // folded in the round after it last changed; labels only decrease, so
    // that information is retained). The frontier includes jump-induced
    // changes (changed = new ≠ old tracks both mechanisms), and an empty
    // frontier is exactly the full fixed point, so termination is
    // unchanged. Scale effect: round cost tracks the ACTIVE subgraph —
    // on the deep-merge shapes that need many rounds, the frontier
    // shrinks to the component boundary and AQE turns the edge join into
    // a broadcast probe instead of re-shuffling every edge every round.
    var frontier = labels
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 50) {
      val neighborMin = edges
        .join(frontier.select(col("doc_id").as("dst"), col("cluster").as("nc")), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("nc")).as("nmin"))
      val obs = org.apache.spark.sql.Observation()
      val stepped = labels
        .join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"),
          col("cluster").as("old"))
      // pointer jump: cluster := min(cluster, label(cluster)) against the
      // PREVIOUS round's checkpointed table (so the lookup target is
      // materialized, not recomputed). label values are always node ids of
      // the same component, so the min preserves the invariant while
      // halving label-chain length each round.
      val cp = stepped
        .join(labels.select(col("doc_id").as("cluster"), col("cluster").as("jump")),
          Seq("cluster"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("jump"), col("cluster"))).as("cluster"),
          col("old"))
        .observe(obs, coalesce(
          sum(when(col("cluster") =!= col("old"), 1L).otherwise(0L)),
          lit(0L)).as("changed"))
        .localCheckpoint()
      // cp is materialized (eager); the previous round's table backs
      // nothing live anymore — release its blocks before the next round
      ColumnBridge.releaseCheckpoint(supersededRound)
      supersededRound = cp
      changed = {
        // bounded poll on the observation itself: the checkpoint action
        // above already ran the plan, so the metric is normally delivered
        // within one listener-bus hop — but delivery is async, so poll
        // the NON-BLOCKING getOrEmpty up to 5 s. (The previous shape —
        // a blocking obs.get abandoned in a timed-out Future — parked a
        // thread in get forever per slow round: up to 50 leaked threads
        // per clusters call on a broken listener bus, ADVICE r5.)
        import org.apache.spark.sql.graftbridge.ColumnBridge.observationOrEmpty
        val deadline = System.nanoTime() + 5L * 1000000000L
        var m = observationOrEmpty(obs)
        while (m.isEmpty && System.nanoTime() < deadline) {
          Thread.sleep(20)
          m = observationOrEmpty(obs)
        }
        m.get("changed").map(_.asInstanceOf[Long])
          .getOrElse(cp.filter(col("cluster") =!= col("old")).count())
      }
      labels = freshLogicalRdd(cp).drop("old")
      // next round's frontier: a filter over the round's checkpointed
      // partitions (cheap scan, used once) — no extra materialization
      frontier = freshLogicalRdd(cp).filter(col("cluster") =!= col("old"))
        .drop("old")
      rounds += 1
      // scale-diagnostics only: GRAFT_CC_DEBUG=1 logs per-round progress
      // (never on by default — the driver sees only the final frame)
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[cc] round=$rounds changed=$changed")
    }
    labels.orderBy("doc_id")
  }

  /** `pipeline_dedup_full`: the engine's purpose in ONE deterministic,
    * oracle-checked flow — what actually runs over a training corpus:
    *
    *   quality gate (cheap, pushes below everything)
    *   → exact dedup (keep lowest doc_id per text)
    *   → n-gram Jaccard near-dup pairs over the surviving docs
    *   → connected components
    *   → keeper selection (cluster representative = lowest doc_id;
    *     unclustered docs keep themselves)
    *
    * Every stage is an operator verified in isolation elsewhere; this
    * asserts the COMPOSITION end to end against a single DuckDB oracle
    * (recursive-CTE closure on the SQL side). */
  def dedupFull(documents: DataFrame, minWords: Int = 20,
                tau: Double = 0.2, maxDf: Int = 512): DataFrame = {
    val words = filter(split(col("text"), " "), t => t =!= "")
    val w = Window.partitionBy("text").orderBy("doc_id")
    val kept = documents
      .withColumn("n_words", size(words))
      .filter(col("n_words") >= minWords)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "text", "lang", "n_chars")
    // the flagship inherits the FINITE df-cap — a boilerplate-heavy crawl
    // cannot blow up the near-dup stage through this entry point
    val cl = clusters(ngramJaccard(kept, tau = tau, maxDf = maxDf))
    // r19 (optimization round): drop-set ANTI join replaces the r?-r18
    // left-outer + keeper filter — the docs to REMOVE are exactly the
    // clustered non-keepers (cluster label ≠ own doc_id; labels are
    // min-reachable doc_ids, never NULL), a set proportional to the
    // DUPLICATES, not the corpus. The old form sort-merge-joined the
    // whole surviving corpus against the label table; the anti join
    // broadcasts the small drop set and the corpus side is never
    // shuffled (guide §3.1).
    kept
      .join(cl.filter(col("cluster") =!= col("doc_id")).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** `dedup_ngram_jaccard`: exact n-gram Jaccard similarity for all pairs
    * sharing at least one shingle — the inverted-index formulation:
    * explode shingles → group by shingle → per-pair intersection count
    * → |A∪B| = |A|+|B|−|A∩B|. One shuffle on the shingle key; never a
    * crossJoin.
    *
    * `maxDf` is the skew knob for boilerplate-heavy corpora: shingles held
    * by more than maxDf documents are dropped from the universe — both
    * from candidate generation AND from the per-doc size counts, so the
    * reported jaccard is exact WITHIN the reduced shingle universe (no
    * systematic underestimate near tau; pairs that only share ultra-common
    * shingles are missed, which is usually the point). The default is
    * FINITE (512): with it, no aggregation buffer in the plan ever holds
    * more than maxDf elements and candidate pairs per shingle are bounded
    * by maxDf²/2 — one boilerplate trigram with df = 10⁶ is dropped
    * map-side after a constant-state count instead of materializing a
    * 10⁶-element array and ~5·10¹¹ pairs (the round-3 default's cliff).
    * Full-universe semantics (every shared shingle counts, unbounded
    * group state) is an explicit opt-in via `maxDf = Int.MaxValue`.
    *
    * DENSITY bound (sf10 shakeout finding): total candidate pairs are
    * Σ_shingles min(df, maxDf)²/2 — the per-shingle cap bounds each term
    * but NOT the sum. On a corpus whose shingle universe is small
    * relative to the corpus (every shingle df in the hundreds — tiny
    * synthetic vocabularies, or heavily templated text), exact
    * pair-generation explodes combinatorially no matter the engine; a
    * 500k-doc corpus over a 31-word vocabulary produces ~10⁹ pairs at
    * maxDf = 512. That corpus shape is what [[nearMinhash]] is FOR: its
    * candidate volume is nBands per document (constant), independent of
    * df density. Rule of thumb: exact jaccard when df is Zipf with a
    * thin head (real deduped web text after the cap), minhash-LSH when
    * density is unknown or high. */
  def ngramJaccard(documents: DataFrame, k: Int = 3, tau: Double = 0.2,
                   maxDf: Int = 512): DataFrame =
    // r15: shared-projection cache — dedup_ngram_jaccard,
    // dedup_jaccard_clusters and pipeline_dedup_full's inner call
    // rebuild this identical pair table (see nearMinhash's note).
    // r16: written unsorted, terminal order re-applied after the read
    // (the nearMinhash ordering note).
    graft.plans.ProjectionCache("dedup", DedupPairsCache.ConfKey,
      shingleCandidates(documents, k, maxDf)
        .select(col("id_a"), col("id_b"),
          (col("inter").cast("double") /
            (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
        .filter(col("jaccard") >= tau)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")))
      .orderBy("id_a", "id_b")

  /** `dedup_ngram_containment`: asymmetric overlap — for each candidate
    * pair, |A∩B| / min(|A|,|B|): the SUBSET-duplicate detector. Jaccard
    * misses the quote-inclusion shape (a short document wholly contained
    * in a much longer one dilutes |A∪B| and scores low); containment is
    * 1.0 whenever the smaller shingle set is a subset of the larger,
    * regardless of the length ratio — the standard complement to jaccard
    * in crawl dedup (container pages, quoted reposts, doc-plus-boilerplate
    * wrappers).
    *
    * Same inverted-index plan as [[ngramJaccard]] (shared candidate
    * generator — one shingle shuffle, df-capped, never a crossJoin); only
    * the final scoring expression differs, so every scale property of the
    * jaccard path (bounded aggregation state, Σ min(df,maxDf)²/2 density
    * bound, id-only pair shuffles) carries over unchanged. */
  def ngramContainment(documents: DataFrame, k: Int = 3, tau: Double = 0.6,
                       maxDf: Int = 512): DataFrame =
    shingleCandidates(documents, k, maxDf)
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          least(col("n_a"), col("n_b"))).as("containment"))
      .filter(col("containment") >= tau)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"))
      .orderBy("id_a", "id_b")

  /** `corpus_dup_hist`: duplicate-cluster size distribution — the
    * one-glance dedup health report ("how much of the corpus is in
    * near-dup groups, and how big are they"): cluster near-dup pairs
    * ([[nearMinhash]] → [[clusters]]), histogram the component sizes,
    * and account for every unclustered document as a size-1 singleton so
    * the `n_docs` column sums exactly to the corpus size. A fat tail
    * here (few huge clusters) flags boilerplate/mirror pathology before
    * a keeper-selection pass wastes a full run on it.
    *
    * Scale shape: rides the audited minhash+CC plan end to end; the
    * histogram itself adds two tiny aggregations (cluster-count-sized,
    * then distinct-size-sized) and two 1-row count aggregates joined by
    * broadcast crossJoin — nothing new shuffles at corpus scale.
    *
    * OWNERSHIP: as with [[clusters]], the returned frame holds a lazy
    * checkpoint pin — release with
    * `ColumnBridge.releaseAllCheckpoints(result)` when done. */
  def clusterSizeHist(documents: DataFrame): DataFrame = {
    // No extra pin here (round 9): `clusters()` runs its loop eagerly
    // and returns a frame that SCANS the final label-table checkpoint —
    // both branches below (the histogram groups it, the singleton row
    // counts it) re-scan those in-memory blocks, never the LSH+closure
    // plan, and the orderBy under them is eliminated by EliminateSorts.
    // The r7-era lazyPin on top was not only redundant, it HID the label
    // checkpoint behind the pin's own LogicalRDD: releaseAllCheckpoints
    // stops at the first persisted ancestor (r8 ADVICE — walking past it
    // is unsafe), so the label table leaked one copy per invocation
    // (caught by the r9 sf10 SPARK_GRAFT_STORAGE_CHECK run).
    val cl = clusters(nearMinhash(documents))
    val hist = cl.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    // singletons: in the corpus, in no near-dup pair (1-row × 1-row join)
    val singles = documents.select(count(lit(1)).as("nd"))
      .crossJoin(cl.select(count(lit(1)).as("ni")))
      .select(lit(1L).as("cluster_size"), (col("nd") - col("ni")).as("n_clusters"))
      .filter(col("n_clusters") > 0)
    hist.unionByName(singles)
      .groupBy("cluster_size").agg(sum(col("n_clusters")).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy("cluster_size")
  }

  /** Shared inverted-index candidate generator for the exact n-gram
    * overlap family ([[ngramJaccard]], [[ngramContainment]]): emits one
    * row per candidate pair with the intersection count and both
    * df-capped shingle-set sizes. All the scale documentation on
    * [[ngramJaccard]] (the df cap, the density bound, the re-attach
    * knob) lives there; this is the plan it describes. */
  private def shingleCandidates(documents: DataFrame, k: Int,
                                maxDf: Int): DataFrame = {
    // 64-bit-hashed shingles: the inverted index shuffles longs, not
    // strings. Collisions would need ~2^32 distinct shingles to matter
    // (corpus has ~10^5); result is semantically identical to raw shingles.
    val sh = documents
      .select(col("doc_id"),
        explode(ShingleExpressions.shingleHashes(lower(col("text")), k)).as("sh"))
    // r19 (optimization round): ONE window pipeline over one sh-keyed
    // exchange replaces the r3-r18 three-branch form (df groupBy-count +
    // two semi-joins), whose three sh subtrees pruned differently and
    // never canonicalized equal — the corpus was shingled three times at
    // runtime (the dupSpans de-canonicalization class, guide §2.4).
    // Shape: explicit repartition(sh) + in-partition (sh, doc_id) sort
    // feed BOTH windows sort-free; df attaches as a full-partition count
    // (spillable window buffer, never a hash-map key per shingle) and
    // the df cap filters BEFORE collect_list, so the basket buffer stays
    // ≤ maxDf elements exactly as before — the constant-state discipline
    // of the old dfCounts-first form is preserved. The sorted basket
    // fans a < b pairs positionally (the pairSupport device — generated
    // code, no self-join), replacing the double-explode + filter that
    // emitted every ordered pair and discarded half.
    val wSh = Window.partitionBy("sh")
    val wShOrd = Window.partitionBy("sh").orderBy("doc_id")
    val wShFull = wShOrd.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val inUniverse = {
      val withDf = sh
        .repartition(col("sh"))
        .sortWithinPartitions("sh", "doc_id")
        .withColumn("df", count(lit(1)).over(wSh))
      if (maxDf == Int.MaxValue) withDf
      else withDf.filter(col("df") <= maxDf)
    }
    // one row per universe shingle with its doc list SORTED by doc_id
    // (collect_list over the ordered full frame preserves the partition
    // sort). df=1 shingles stay in the baskets — the positional fan
    // emits nothing for a 1-element array — so `sizes` below counts the
    // SAME reduced universe the pairs come from (INCLUDING df=1
    // shingles), keeping the jaccard internally consistent.
    val baskets = inUniverse
      .withColumn("ds", collect_list(col("doc_id")).over(wShFull))
      .withColumn("rn", row_number().over(wShOrd))
      .filter(col("rn") === 1)
      .select(col("ds"))
    // |shingles(doc)|: full universe = map-side from the array length (no
    // shuffle); with maxDf active, counted off `inUniverse` (same rows
    // the baskets collect, INCLUDING df=1 shingles) — this branch and
    // the basket branch share the one sh-keyed exchange at runtime, and
    // the sizes side skips the basket window entirely.
    val sizes =
      if (maxDf == Int.MaxValue)
        documents.select(col("doc_id"),
          size(ShingleExpressions.shingleHashes(lower(col("text")), k))
            .cast("long").as("n"))
      else
        inUniverse.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = baskets
      .select(posexplode(col("ds")).as(Seq("i", "id_a")), col("ds"))
      .select(col("id_a"),
        explode(slice(col("ds"), col("i") + lit(2),
          size(col("ds")) - col("i") - lit(1))).as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    // size re-attach: joins on doc_id — `sizes` is corpus-sized (one row
    // per document) and must never be broadcast; the pairs side is the
    // small one — AQE decides at runtime by default, and the
    // spark.graft.dedup.reattach knob can force broadcast or sort-merge.
    reattachHint(
      reattachHint(pairs)
        .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("inter"), col("n_a"), col("n_b"))
  }

  /** `dedup_soft_weights` (round 9): SOFT dedup — keep every copy,
    * down-weight by exact duplicate-group size (weight = 1/n in MICRO
    * units via integer floor division, so the column is exact
    * cross-engine). Hard dedup erases the natural-frequency signal;
    * weighting preserves it while removing the gradient-level
    * over-counting — the standard alternative when duplication rate
    * itself is informative (navboost-ish pages, popular licenses,
    * FAQ mirrors).
    *
    * Scale shape: one count window partitioned by text (the
    * [[exact]]-keeper shuffle — full text as key, acceptable because
    * this IS the text-keyed exact tier; the 100 TB variant swaps the
    * window for the [[exactByHash]] two-tier hash-count + collision
    * settle and joins weights back on doc_id — same output, 16-byte
    * shuffle rows). Weight_micro of 1 for uniques, 500000 for pairs,
    * etc.; a downstream sampler consumes the column directly. */
  def softDedupWeights(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy("text")
    documents
      .select(col("doc_id"), count(lit(1)).over(w).as("dup_n"))
      .withColumn("weight_micro", expr("1000000 DIV dup_n"))
      .orderBy("doc_id")
  }

  /** `dedup_bloom_shard` (round 9): cross-shard Bloom membership
    * pre-filter — the standard pattern for deduplicating a NEW shard
    * against an already-processed corpus without shipping the corpus's
    * key set: the reference shard publishes a fixed-size Bloom bitset
    * ([[graft.functions.BloomFilterAgg]], m/8 bytes total — 128 KB at
    * 2^20 bits — vs 8 bytes PER KEY for an exact anti-join side), and
    * the new shard drops definite-non-members map-side. No false
    * negatives by construction (a real duplicate always probes 1-bits);
    * false positives at the standard (1−e^(−kn/m))^k rate only ever
    * send EXTRA candidates to the exact verifier downstream.
    *
    * Demo split: even doc_ids are the processed corpus, odd doc_ids the
    * incoming shard (the planted exact duplicates in the test corpus
    * cross this split). Output: one row per incoming doc with its
    * `maybe_dup` flag — feed the flagged subset to [[exact]] /
    * [[nearMinhash]] for confirmation.
    *
    * Scale shape: ONE constant-width aggregation on the corpus side
    * (Array[Long] bitset per partition, OR-merged — same contract as
    * the Space-Saving sketch), broadcast of the m/8-byte bitset, then a
    * map-only codegen probe ([[graft.functions.BloomFilter
    * .mightContainExpr]] — shiftright/element_at/bitwise-and, no UDF)
    * over the shard. At 100 TB the corpus side reads hashes only
    * (column-pruned scan) and ships kilobytes per partition.
    *
    * Oracled since r14 (was ✗ "DuckDB cannot replicate xxhash64" —
    * fixed by NOT using xxhash64): the key is the packed 62-bit Rabin
    * pair `rabin_chars·2³¹ + rabin_words` (the [[graft.functions
    * .ShingleExpressions.rabinFingerprint]] codegen kernels, both plain
    * codepoint arithmetic mod 2³¹−1 that the `text_fingerprint` oracle
    * already replays in SQL), so the Kirsch–Mitzenmacher probe
    * positions are integers BOTH engines derive identically and the
    * DuckDB oracle rebuilds the corpus's bit-position set and replays
    * every probe — the full bitset pipeline is hash-compared end to
    * end. RoundNineOpsSpec still asserts zero false negatives on the
    * planted cross-shard duplicates, the FP bound on disjoint text, and
    * agreement with the exact anti-join ground truth. */
  def bloomShardFlags(documents: DataFrame, bitsLog2: Int = 20,
                      k: Int = 5): DataFrame = {
    import graft.functions.{BloomFilter, ShingleExpressions}
    def key = (ShingleExpressions.rabinFingerprint(col("text"), wordLevel = false) *
      lit(2147483648L) +
      ShingleExpressions.rabinFingerprint(col("text"), wordLevel = true)).as("h")
    val corpus = documents.filter(col("doc_id") % 2 === 0).select(key)
    val bloom = corpus.select(BloomFilter.agg(col("h"), bitsLog2, k).as("bloom"))
    val shard = documents.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), key)
    shard.crossJoin(broadcast(bloom))
      .selectExpr("doc_id",
        s"CAST(${BloomFilter.mightContainExpr("bloom", "h", bitsLog2, k)} AS INT) AS maybe_dup")
      .orderBy("doc_id")
  }

  /** `dedup_semantic_ivf`: semantic deduplication in the SemDeDup shape
    * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication") — the last major public
    * LLM-curation family (r9 verdict #4). Cluster the embedding space
    * with a coarse quantizer, call two items semantic duplicates when
    * their WITHIN-CELL cosine exceeds `tau`, group duplicates, and keep
    * ONE exemplar per group: the member LEAST similar to its cell
    * centroid (the paper's best-performing keeper rule — the group
    * outlier preserves the most diversity), deterministically
    * tie-broken by vec_id.
    *
    * Output: one row per vector — (vec_id, cell, grp, cos_centroid,
    * keep). Un-duplicated vectors form their own singleton group and
    * are always kept, so `filter(keep = 1)` IS the deduped corpus.
    *
    * Scale shape, stage by stage:
    *  - the cell assignment is the CACHED shared IVF index
    *    ([[graft.operators.VectorOps.cachedIvfIndex]] — one KMeans fit +
    *    one assignment pass per corpus, reused across this operator and
    *    the `sim_ann_ivf*` probes; at 100 TB it is a table written
    *    bucketed by cell);
    *  - within-cell pairing self-joins that cell-partitioned cached
    *    table on `cell` — both sides are the SAME hash-partitioned
    *    relation, so the join is co-partitioned and shuffles NOTHING;
    *    the cosine verify runs map-side inside the join and pairs below
    *    `tau` die before touching any downstream exchange;
    *  - cells larger than `maxCell` are dense topical regions, not
    *    duplicate groups — they are dropped from pair enumeration
    *    BEFORE any pair materializes (the [[ngramJaccard]] maxDf /
    *    [[graft.operators.VectorOps.nearDupEmbedding]] maxBucket
    *    analog), bounding per-cell work at maxCell²/2; production runs
    *    size nlist so E[cell] ≪ maxCell and the cap never binds;
    *  - duplicate groups are [[clusters]] (pointer-jump CC) over the
    *    verified pairs — transitivity within a cell, the same audited
    *    loop every other dedup family uses;
    *  - exemplar selection is one small window over GROUP members only
    *    (group sizes are duplicate-set sizes, not corpus-sized), ranked
    *    by (cos_centroid asc, vec_id) — fully deterministic.
    *
    * No oracle (declared ✗: the KMeans fit is not SQL-expressible —
    * same reason as `sim_ann_ivf`); SemanticIvfSpec asserts planted
    * near-duplicate recall, exemplar determinism across invocations,
    * the singleton-keeper invariant, and the maxCell cap.
    *
    * OWNERSHIP: the returned frame scans the CC label checkpoint —
    * caller releases via `ColumnBridge.releaseAllCheckpoints(result)`
    * when done (the Bench/Verify convention); the cached IVF assignment
    * is the long-lived shared index and is deliberately NOT released
    * here ([[graft.operators.VectorOps.clearIvfIndexes]] tears it
    * down). */
  def semanticIvf(embeddings: DataFrame, tau: Double = 0.95,
                  nlist: Int = 8, maxCell: Int = 8192): DataFrame = {
    val idx = VectorOps.cachedIvfIndex(embeddings, nlist)
    val a = idx.assigned // (vec_id, embedding, cell) — cell-partitioned, cached
    val smallCells = a.groupBy("cell").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") <= maxCell).select("cell")
    val pruned = a.join(smallCells, Seq("cell"), "left_semi")
    val pairs = pruned
      .select(col("cell"), col("vec_id").as("id_a"), col("embedding").as("emb_a"))
      .join(pruned.select(col("cell"), col("vec_id").as("id_b"),
        col("embedding").as("emb_b")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(VectorOps.cosine(col("emb_a"), col("emb_b")) >= tau)
      .select("id_a", "id_b")
    val groups = clusters(pairs) // (doc_id, cluster), checkpoint-backed
    val sims = a.join(broadcast(idx.centroids), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        round(VectorOps.cosine(col("embedding"), col("centroid")), 6)
          .as("cos_centroid"))
    val wGrp = Window.partitionBy("grp")
      .orderBy(col("cos_centroid").asc, col("vec_id").asc)
    sims
      .join(groups.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
      // singletons (never in a pair) label themselves; negated ids keep
      // the synthetic group keys disjoint from real CC labels (min doc_id
      // per component, always >= 0 here)
      .withColumn("grp", coalesce(col("cluster"), -col("vec_id") - 1))
      .withColumn("keep", (row_number().over(wGrp) === 1).cast("int"))
      .select(col("vec_id"), col("cell"), col("grp"),
        col("cos_centroid"), col("keep"))
      .orderBy("vec_id")
  }

  /** `dedup_url_canonical` (round 13): URL-keyed exact dedup through a
    * real canonicalization pipeline — the web-corpus first pass that
    * runs BEFORE any content hashing, because a crawl stores the same
    * page under an upper-cased host, a trailing slash, a `#fragment`,
    * and a `?utm_source=...` tail, and content-dedup would pay four fetches and
    * four near-dup comparisons for what one string normalization
    * removes. Canonical steps (each a standard rule): drop the
    * fragment, strip `utm_*` tracking parameters (dropping an
    * emptied-out `?`), lowercase the scheme+host (ONLY that — paths are
    * case-sensitive), strip one trailing slash.
    *
    * URLs are synthesized deterministically from doc fields (the
    * fn_url device): quartets of documents (doc_id DIV 4) in the same
    * language share a canonical page, and doc_id % 4 picks which messy
    * variant each holds, so the dup structure is exactly replayable by
    * the oracle. Emitted per language: raw vs canonical URL counts and
    * the duplicate surplus a canonicalizing fetcher saves.
    *
    * Scale shape: ONE corpus scan; the canonicalization is map-only
    * string rewriting (regexp_replace chain, codegen'd); the rollup
    * needs per-lang DISTINCT canonicals — one shuffle keyed on
    * (lang, canonical) with map-side partial distinct, then O(langs)
    * rows. Text never leaves the scan. scan-guard: dedup_url_canonical */
  def urlCanonical(documents: DataFrame): DataFrame = {
    val page = concat(lit("www.example.org/"), col("lang"), lit("/doc/"),
      expr("doc_id DIV 4"))
    val messy = when(pmod(col("doc_id"), lit(4)) === 0,
        concat(lit("https://"), page))
      .when(pmod(col("doc_id"), lit(4)) === 1,
        concat(lit("HTTPS://WWW.EXAMPLE.ORG/"), col("lang"), lit("/doc/"),
          expr("doc_id DIV 4")))
      .when(pmod(col("doc_id"), lit(4)) === 2,
        concat(lit("https://"), page, lit("?utm_source=feed&utm_campaign=x")))
      .otherwise(concat(lit("https://"), page, lit("/#frag")))
    // the canonicalization pipeline, step by step over the messy string
    val noFrag = regexp_replace(messy, "#.*$", "")
    val noUtm = regexp_replace(
      regexp_replace(noFrag, """\?utm_[^#]*$""", ""),
      """&utm_[^&#]*""", "")
    val lowHost = concat(
      lower(regexp_extract(noUtm, "^[^/]*//[^/]*", 0)),
      regexp_extract(noUtm, "^[^/]*//[^/]*(.*)$", 1))
    val canon = regexp_replace(lowHost, "/$", "")
    documents
      .select(col("lang"), canon.as("canonical"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("canonical")).as("n_canonical"))
      .select(col("lang"), col("n_urls"), col("n_canonical"),
        (col("n_urls") - col("n_canonical")).as("n_dup_urls"))
      .orderBy("lang")
  }

  /** `dedup_span_rewrite` (round 13 wave 2): span-level global dedup that
    * REWRITES documents instead of dropping them — the CCNet-shaped pass
    * (Wenzek et al., "CCNet", LREC 2020 — paragraph-hash dedup across
    * shards) re-expressed at word-block grain: each doc splits into
    * non-overlapping `k`-word spans; a span instance survives iff it is
    * the corpus-wide FIRST occurrence of its content (order by
    * (doc_id, block_idx) — deterministic, replayable); surviving spans
    * reassemble in block order into the rewritten doc. This is the
    * complement of [[dupSpans]] (census) and [[filterDupSpans]] (whole-doc
    * drop): boilerplate is cut, the prose around it survives. Docs whose
    * every span is seen earlier vanish — exactly the rewrite semantics
    * (output IS the surviving corpus + per-doc loss accounting:
    * n_spans, n_kept, kept_words, md5 of the rewritten text).
    *
    * Scale shape (re-reworked r18 after the healthy-box sf100 probe):
    * span synthesis is map-only (`sequence`/`slice` inside codegen — no
    * intermediate word explode). First-occurrence is decided by a
    * groupBy(span-hash) `min` over ONE PACKED LONG —
    * `(doc_id << BlockIdxBits) | block_idx`, order-isomorphic to the
    * lexicographic (doc_id, block_idx) — so the keeper is a CODEGEN'D
    * HashAggregate over 24-byte rows with map-side combine (skew-proof:
    * boilerplate duplicated 10^9 times at 100 TB collapses to one long
    * per key per task). The r17 form aggregated `min(STRUCT(...))`
    * carrying the whole kept row as payload: struct-min is NOT
    * hash-aggregable, so Spark planned SORT AGGREGATE — two full
    * corpus-wide sorts of the span table WITH its text, and the r18
    * healthy-box sf100 probe showed the 15-17× "host sort tax" of
    * r17 was really this plan (even the payload-free min-struct read
    * 121 s / 20× at sf100; the packed-long form's keeper is a hash
    * agg). Surviving block ids regroup per doc (ints, no text) and the
    * kept spans are RE-SYNTHESIZED from the documents table by a
    * doc_id-keyed join — span text now crosses NO shuffle at all (the
    * doc text rides the long-keyed join once). Two corpus scans
    * (synthesis + rewrite join side), both column-pruned; the packed
    * key bounds block_idx at 2^22 (a 21M-word doc at k=5) and doc_id
    * at 2^41 — wider than any real corpus row, and RUNTIME-GUARDED
    * (r19, ADVICE r18 #1): an out-of-domain row raises instead of
    * silently electing a wrong keeper.
    * Probe history: r13-r16 md5-string keeper join 428.9 s at sf100 →
    * r17 long-key payload-min 351.8/247.4 s (sort-weak/healthy box) →
    * r18 packed-long + re-synthesis: see BENCH_NOTES r18 same-box
    * numbers.
    * scan-guard: dedup_span_rewrite */
  /** Span synthesis shared by [[spanRewrite]] and [[spanRewriteStream]]:
    * one codegen'd projection — block texts are sliced out of the word
    * array in place, no per-word explode ever exists. Stateless, so the
    * identical plan runs under both batch and streaming (the two forms
    * diverge only in HOW first-occurrence is decided). Columns:
    * (doc_id, lang, n_spans, block_idx, span, h).
    *
    * r17: `h` is a (k1, k2) two-seed xxhash64 STRUCT, not the r13 md5
    * hex string — the [[exactNormalized]] 128-bit key device. The key
    * is internal (never in any output; the oracle partitions by
    * md5(span), and any corpus-injective key reproduces the same keeper
    * decisions; false merge ~n²/2¹²⁸). The md5-string key made the
    * first-occurrence shuffle SORT 32-char strings: the r17 sf100 probe
    * read the keeper aggregate at 16.8× and the reattach join at 35.8×
    * for 10× data (55.5M spans) — string-keyed sort spill — while the
    * two-long struct keys sort/compare as codegen'd longs. */
  private[graft] def spanTable(documents: DataFrame, k: Int): DataFrame = {
    val words = filter(split(col("text"), " "), w => w =!= "")
    documents
      .select(col("doc_id"), col("lang"), words.as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), col("lang"),
        expr(s"(size(ws) + ${k - 1}) DIV $k").as("n_spans"),
        posexplode(transform(
          // `/` on Columns is DOUBLE division — integer block count must
          // go through DIV (and sequence needs matching integral types)
          sequence(lit(0L), expr(s"(size(ws) + ${k - 1}) DIV $k - 1")),
          i => array_join(slice(col("ws"), i * k + lit(1), lit(k)), " "))))
      .withColumnRenamed("pos", "block_idx")
      .withColumnRenamed("col", "span")
      .withColumn("h", struct(
        xxhash64(col("span")).as("k1"),
        xxhash64(lit(0x9E3779B9L), col("span")).as("k2")))
  }

  /** Bits reserved for block_idx in [[spanRewrite]]'s packed keeper
    * key: block_idx < 2^22 (a 21M-word doc at k=5), doc_id < 2^41. */
  private val BlockIdxBits = 22

  def spanRewrite(documents: DataFrame, k: Int = 5): DataFrame = {
    val spans = spanTable(documents, k)
    // first-occurrence decision: min over ONE packed long, order-
    // isomorphic to lexicographic (doc_id, block_idx) — a codegen'd
    // HashAggregate with map-side combine; min(struct(...)) planned
    // SortAggregate (two corpus-wide sorts, the measured sf100
    // super-linearity — see the scaladoc above)
    // round-robin repartition BEFORE the agg: span keys are mostly
    // UNIQUE, so a scan-partition-sized partial-agg map holds millions
    // of entries and spills to sort (measured: the sf100 keeper read
    // 226 s on 11 synthesis tasks × ~5M-key maps); after an RR exchange
    // of the 24-byte rows each partial map holds ~|spans|/P keys and
    // stays in memory, while hot boilerplate keys still collapse to
    // ≤ P rows before the final agg — skew-proof both ways
    val shuffleP = documents.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    // ADVICE r18 #1: the pack is only order-isomorphic INSIDE its
    // domain — a doc_id ≥ 2^41 (or negative) or a block_idx ≥ 2^22
    // would bleed into the neighbour's bits and min(pk) would pick a
    // WRONG keeper with no error. Out-of-domain corpora must fail
    // loudly, not dedup wrong: the guard is two codegen'd long
    // compares per span (noise next to the xxhash64 the row already
    // paid), raise_error on the dead branch
    val packDomain = col("doc_id").between(0L, (1L << (63 - BlockIdxBits)) - 1) &&
      col("block_idx") < (1 << BlockIdxBits)
    val keptIdx = spans
      .select(col("h"),
        when(packDomain,
          shiftleft(col("doc_id"), BlockIdxBits)
            .bitwiseOR(col("block_idx").cast("long")))
          .otherwise(raise_error(concat(
            lit("spanRewrite packed-key domain exceeded: doc_id="),
            col("doc_id").cast("string"),
            lit(" (must be in [0, 2^41)) block_idx="),
            col("block_idx").cast("string"),
            lit(" (must be < 2^22)")))).as("pk"))
      .repartition(shuffleP)
      .groupBy("h")
      .agg(min(col("pk")).as("pk"))
      .select(shiftright(col("pk"), BlockIdxBits).as("doc_id"),
        col("pk").bitwiseAND(lit((1L << BlockIdxBits) - 1))
          .cast("int").as("block_idx"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("block_idx"))).as("kept"))
    // rewrite: surviving block ids join back to the doc (long-keyed,
    // doc-grain both sides) and the kept spans re-synthesize from the
    // doc's own word array map-side — span text crosses no shuffle
    val words = filter(split(col("text"), " "), w => w =!= "")
    // SHUFFLE_HASH on the thin build side: a sort-merge join would SORT
    // the corpus text; hashing the doc-grain (doc_id, kept-ids) side
    // streams the text partition-wise unsorted
    documents
      .join(keptIdx.hint("shuffle_hash"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), words.as("ws"), col("kept"))
      .select(
        col("doc_id"), col("lang"),
        expr(s"(size(ws) + ${k - 1}) DIV $k").as("n_spans"),
        size(col("kept")).cast("long").as("n_kept"),
        aggregate(col("kept"), lit(0L),
          (acc, i) => acc + size(slice(col("ws"), i * k + lit(1), lit(k))))
          .as("kept_words"),
        md5(array_join(
          transform(col("kept"),
            i => array_join(slice(col("ws"), i * k + lit(1), lit(k)), " ")),
          " ")).as("rewrite_md5"))
      // pin before the terminal display sort (the r17 wrs device): the
      // range exchange's boundary SAMPLING executes the child once and
      // the sort executes it AGAIN — here the child is the whole
      // two-scan pipeline, while its output is doc-grain thin rows;
      // materialization out-costs re-execution by an order of magnitude
      .transform(graft.plans.PlanPins.lazyPin)
      .orderBy("doc_id")
  }

  /** Streaming twin of [[spanRewrite]] (round-13 deferred #2): the same
    * span-level first-occurrence dedup as an INCREMENTAL operator —
    * documents arrive on a stream and a span instance survives iff its
    * content has never been seen in the stream's history. Rides the
    * IDENTICAL [[spanTable]] synthesis (stateless, so the projection
    * plan is shared verbatim); only the first-occurrence decision
    * changes form: `flatMapGroupsWithState` keyed on the span hash, one
    * boolean of state per distinct span ever seen (the streaming
    * exact-dedup gate's `dropDuplicates` shape, but with a DETERMINISTIC
    * within-batch winner).
    *
    * Semantics: across micro-batches, stream order wins (a span seen in
    * batch N is dead in batch N+1 — state-store backed, surviving
    * checkpoint stop/resume); within one batch, the (doc_id, block_idx)
    * minimum wins — so on a single batch (or on a STATIC frame, where
    * every group starts with empty state) the kept-span set equals the
    * batch [[spanRewrite]]'s exactly, which is how the spec pins the two
    * forms together. Output is span-grain (append mode): doc-level
    * reassembly is a second stateful grouping Spark does not chain after
    * an arbitrary state op, and all of a doc's spans share a micro-batch
    * anyway — the consumer reassembles per batch (one `groupBy(doc_id)`
    * in `foreachBatch`/the bus transform slot, batch-local, stateless).
    *
    * Scale shape: per batch, ONE hash-partition shuffle of span
    * instances (the key the batch op shuffles on), preceded by a
    * per-partition min-combine (`mapPartitions`, O(distinct hashes per
    * partition) memory — bounded because micro-batch admission bounds
    * the batch) so a hot boilerplate span reaches its state task as
    * ≤ numPartitions candidates, the map-side partial the batch op gets
    * from its min-struct aggregate. State is one entry per DISTINCT
    * span hash — 16-byte keys, RocksDB state-store territory at corpus
    * scale; a bounded-retention variant would swap NoTimeout for
    * watermark TTL (the `dropDuplicatesWithinWatermark` trade: bounded
    * state, dedup only within the horizon). */
  def spanRewriteStream(documents: DataFrame, k: Int = 5)
      : org.apache.spark.sql.Dataset[KeptSpan] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = documents.sparkSession
    import spark.implicits._
    minCombinedSpans(documents, k)
      .groupByKey(_.h)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: SpanKey, it: Iterator[SpanInstance], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val w = it.reduce(SpanGateProcessor.minOf)
            Iterator(KeptSpan(w.doc_id, w.lang, w.n_spans, w.block_idx, w.span))
          }
      }
  }

  /** [[spanRewriteStream]] on Spark 4's `transformWithState` — the
    * arbitrary-state surface that supports STATE-SCHEMA EVOLUTION
    * (adding fields to the state encoder across restarts; the engine's
    * preferred surface per SURVEY §2 when a gate's state will grow,
    * e.g. from "seen" to "seen + first-batch-id"). Semantics are
    * identical to the fMGWS form — one boolean of state per distinct
    * span hash, first occurrence wins, (doc_id, block_idx) minimum
    * within a batch — proven by the shared StreamingSpanRewriteSpec
    * assertions run against both forms.
    *
    * Deployment notes (why BOTH forms ship):
    *  - `transformWithState` hard-requires the RocksDB state store
    *    (`spark.sql.streaming.stateStore.providerClass` =
    *    RocksDBStateStoreProvider); the fMGWS form runs on the default
    *    HDFS-backed provider too.
    *  - The in-stream CORPUS gate (the quality gate + `dropDuplicates`
    *    composition the runner's transform slot uses) stays as is: its
    *    state is Spark's BUILT-IN dedup operator's, owned and evolved
    *    by Spark itself — transformWithState is the surface for CUSTOM
    *    state like this span gate's, not a replacement for built-in
    *    stateful operators.
    *  - On a STATIC frame, batch-mode TWS still materializes real state
    *    stores, and executors resolve the driver's StateStoreCoordinator
    *    RPC endpoint — which only a streaming stateful query registers.
    *    In a JVM where no stream has run yet, run any one-batch stateful
    *    stream first (the spec bootstraps with rate → dropDuplicates →
    *    noop) or the batch query fails with CANNOT_LOAD_STATE_STORE.
    *    The fMGWS form has no such requirement.
    *  - CHECKPOINT MIGRATION: an existing fMGWS checkpoint cannot be
    *    resumed by a TWS query (different state operator + store
    *    format). Migrating a live gate means a new checkpoint dir and
    *    one of: replaying the corpus through the new query to rebuild
    *    the seen-set, or accepting a duplicate window for spans whose
    *    history predates the cutover (the same at-least-once window a
    *    fresh consumer has). */
  def spanRewriteStreamTws(documents: DataFrame, k: Int = 5)
      : org.apache.spark.sql.Dataset[KeptSpan] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = documents.sparkSession
    import spark.implicits._
    minCombinedSpans(documents, k)
      .groupByKey(_.h)
      .transformWithState(new SpanGateProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Shared front half of both streaming span gates: span synthesis +
    * the partition-local min-combine (the hot-hash guard — a boilerplate
    * span reaches the state task as ≤ numPartitions candidates). */
  private def minCombinedSpans(documents: DataFrame, k: Int)
      : org.apache.spark.sql.Dataset[SpanInstance] = {
    val spark = documents.sparkSession
    import spark.implicits._
    spanTable(documents, k).as[SpanInstance]
      .mapPartitions { it =>
        val best = scala.collection.mutable.HashMap.empty[SpanKey, SpanInstance]
        it.foreach { s =>
          best.updateWith(s.h) {
            case Some(cur) => Some(SpanGateProcessor.minOf(cur, s))
            case None => Some(s)
          }
        }
        best.valuesIterator
      }
  }
}

/** The [[DedupOps.spanRewriteStreamTws]] state processor: one boolean
  * `ValueState` per distinct span hash — exists ⇒ the span is dead;
  * first arrival claims it with the (doc_id, block_idx) minimum of the
  * batch's candidates. TTL is NONE: the gate is exact over the stream's
  * whole history (the bounded-retention variant would pass a TTLConfig,
  * the `dropDuplicatesWithinWatermark` trade). */
private[operators] class SpanGateProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      SpanKey, SpanInstance, KeptSpan] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  @transient private var seen: ValueState[Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getValueState[Boolean]("seen",
      org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)

  override def handleInputRows(key: SpanKey, rows: Iterator[SpanInstance],
                               timerValues: TimerValues): Iterator[KeptSpan] =
    if (seen.exists()) Iterator.empty
    else {
      seen.update(true)
      val w = rows.reduce(SpanGateProcessor.minOf)
      Iterator(KeptSpan(w.doc_id, w.lang, w.n_spans, w.block_idx, w.span))
    }
}

private[operators] object SpanGateProcessor {
  def minOf(a: SpanInstance, b: SpanInstance): SpanInstance =
    if (a.doc_id < b.doc_id ||
      (a.doc_id == b.doc_id && a.block_idx < b.block_idx)) a else b
}

/** Span instance flowing into [[DedupOps.spanRewriteStream]]'s state op
  * (the [[DedupOps.spanTable]] row shape). */
private[operators] case class SpanInstance(
  doc_id: Long, lang: String, n_spans: Long, block_idx: Int,
  span: String, h: SpanKey)

/** The 128-bit span-content key (two independently-seeded xxhash64
  * halves — the exactNormalized device); field names match
  * [[DedupOps.spanTable]]'s `h` struct so the Dataset encoder maps it. */
private[operators] case class SpanKey(k1: Long, k2: Long)

/** A surviving (corpus-first) span instance emitted by
  * [[DedupOps.spanRewriteStream]]. */
case class KeptSpan(
  doc_id: Long, lang: String, n_spans: Long, block_idx: Int, span: String)
