package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.Graphs

/** Deduplication operators for web-scale corpora.
  *
  * Scale design: every op is a hash-partitioned groupBy or an
  * inverted-index equi-join — never an O(n²) cross join. MinHash-LSH
  * banding turns near-dup search into a shuffle on band keys, so the
  * candidate set (not the corpus square) bounds the work; that is the
  * shape that survives 100 TB.
  *
  * Cache contract: [[lshCandidatePairs]] and [[jaccardPairs]] return
  * plans over an internally `cache()`d frame (it feeds 2-3 branches of
  * the same plan — the materialize-once shape these take at scale).
  * Compose and materialize inside [[graft.util.CacheScope.loan]] to
  * release exactly those internal caches on exit; outside a loan,
  * release after materializing with
  * `spark.sharedState.cacheManager.clearCache()` (or `unpersist` on
  * your own frames) when running many queries in one session; the
  * Verify/Bench mains do exactly that between queries.
  */
object Dedup {

  /** Exact dedup groups keyed by content hash: one row per distinct
    * content with the surviving id (min) and the duplicate count.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup keeping the BEST row per content group under an
    * explicit priority ordering (ascending, lexicographic over
    * `priorityCols` then `idCol`, NULLS LAST) — the
    * keep-from-preferred-source pattern: when the same content lands
    * in several corpora, keep the curated copy, not the lowest id.
    * NULLS LAST (SQL's default ascending and what a DuckDB
    * `ORDER BY source` twin computes): an UNSOURCED copy must never
    * beat a sourced one, where Spark's native struct ordering would
    * put the null first and silently win the group. Same
    * one-`min_by`-shuffle plan shape as [[exactGroups]]; the struct
    * comparison never materializes a group.
    */
  def exactGroupsPriority(df: DataFrame, idCol: String, textCol: String,
                          priorityCols: Seq[String]): DataFrame = {
    val ord = struct(priorityCols.flatMap(c =>
      Seq(col(c).isNull.as(s"_n_$c"), col(c))) :+ col(idCol): _*)
    val keep = struct((priorityCols :+ idCol).map(col): _*)
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min_by(keep, ord).as("r"), count(lit(1)).as("n_dups"))
      .select(col("text_hash") +: col(s"r.$idCol").as("keep_id") +:
        priorityCols.map(c => col(s"r.$c").as(s"keep_$c")) :+ col("n_dups"): _*)
  }

  /** MinHash parameters: k permutations of the 32-bit shingle hash
    * under (a·h + b) mod p — re-exported from the native expression
    * (single source of truth, see [[graft.plans.MinhashSig]]).
    */
  val MinhashP: Long = graft.plans.MinhashSig.P
  def perm(i: Int): (Long, Long) =
    (graft.plans.MinhashSig.permA(i), graft.plans.MinhashSig.permB(i))

  /** doc-level minhash signature: one row per doc, k columns mh00..mhNN.
    *
    * Map-only: the signature is a per-document reduction over the doc's
    * own shingles, so the one-pass native expression computes all k
    * minima in a single traversal — no explode, no groupBy, zero
    * shuffle. (The former explode + groupBy form shuffled every
    * (doc, shingle) pair — the largest intermediate in the engine.)
    * Docs too short to shingle yield no row, exactly like the
    * aggregated form. `tokensCol` lets a pipeline that already carries
    * the token array (the curation funnel) skip re-tokenizing.
    */
  def minhashSignatures(df: DataFrame, idCol: String,
                        tokensCol: org.apache.spark.sql.Column = TextFns.tokens(col("text")),
                        k: Int = 16, shingleN: Int = 3): DataFrame = {
    // two-step select: the array is materialized in its own projection;
    // CollapseProject keeps non-cheap expressions referenced k times
    // out-of-line, so the signature is computed once per row. The
    // too-short-to-shingle filter is the cheap token-count predicate
    // (≡ sig IS NOT NULL) — filtering on sig itself would push a full
    // signature recompute into the scan.
    val (shingles, signature) = signed(tokensCol, shingleN, k)
    val sig = df.filter(shingles).select(col(idCol), signature.as("sig"))
    sig.select(col(idCol) +: sigCols(col("sig"), k): _*)
  }

  // the signature the streaming ingest keeps beside each document:
  // minhashSignatures' defaults, 16 permutations of 3-shingles
  private val IngestK = 16
  private val IngestShingleN = 3

  private def mhCol(i: Int): String = f"mh$i%02d"

  /** The shingle test of a token array (a document too short to
    * shingle has no signature) and its k-permutation signature. */
  private def signed(tokens: Column, shingleN: Int, k: Int): (Column, Column) =
    (size(tokens) >= shingleN, TextFns.minhashSig(tokens, shingleN, k))

  /** The k columns mh00..mhNN of a signature array column. */
  private def sigCols(sig: Column, k: Int): Seq[Column] =
    (0 until k).map(i => sig.getItem(i).as(mhCol(i)))

  /** The minhash columns [[withMinhash]] appends: mh00..mh15. */
  val MinhashCols: IndexedSeq[String] = (0 until IngestK).map(mhCol)

  /** Every row of `df` with the [[minhashSignatures]] columns appended
    * (16 permutations of 3-shingles of its `text`), null where the
    * document is too short to shingle (the rows that operator drops) —
    * one frame for a caller that keeps both.
    */
  def withMinhash(df: DataFrame): DataFrame = {
    val cols = df.columns.toIndexedSeq.map(col)
    val (shingles, signature) = signed(col("_tk"), IngestShingleN, IngestK)
    df.select(cols :+ TextFns.tokens(col("text")).as("_tk"): _*)
      .select(cols :+ when(shingles, signature).as("_sig"): _*)
      .select(cols ++ sigCols(col("_sig"), IngestK): _*)
  }

  /** Band keys of a signature frame: one (id, band_id, band_hash) row
    * per band — the LSH index rows. At scale this is the materialized
    * index a corpus maintains; a new batch only computes ITS band keys
    * and joins. `carry` columns ride along between the id and the band
    * columns.
    */
  def bandKeys(sig: DataFrame, idCol: String,
               k: Int = 16, rowsPerBand: Int = 2, carry: Seq[String] = Nil): DataFrame = {
    val nBands = k / rowsPerBand
    val bandCols = (0 until nBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(mhCol(b * rowsPerBand + r)))
      struct(lit(b).as("band_id"), md5(concat_ws("_", parts: _*)).as("band_hash")).as(s"b$b")
    }
    val kept = (idCol +: carry).map(col)
    sig.select(kept ++ bandCols: _*)
      .select(kept :+ explode(array((0 until nBands).map(b => col(s"b$b")): _*)).as("band"): _*)
      .select(kept :+ col("band.band_id") :+ col("band.band_hash"): _*)
  }

  /** The near-dup drop set of one batch in a single grouped pass: the
    * ids `b` for which some `a < b` shares a band with `b` and agrees
    * on at least `simThreshold` of the 16 minhashes — the `id_b` column
    * of [[lshCandidatePairs]] filtered on `est_sim >= simThreshold`,
    * without its self-join, its distinct and its two signature joins.
    * `banded` is [[bandKeys]] output carrying [[MinhashCols]] from a
    * [[withMinhash]] frame. One shuffle on the band key; an id comes
    * back once per bucket that drops it. Each bucket is collected into
    * one row and compared in place (m² work, the self-join's bound), so
    * a bucket must fit in memory: bounded for a micro-batch, not for a
    * corpus, where [[lshCandidatePairs]]' `maxBandBucket` applies.
    */
  private[graft] def lshDrops(banded: DataFrame, idCol: String, simThreshold: Double): DataFrame = {
    def estSim(a: Column, b: Column): Column =
      MinhashCols.map(c => when(a(c) === b(c), 1).otherwise(0)).reduce(_ + _).cast("double") / IngestK
    banded.groupBy(col("band_id"), col("band_hash"))
      .agg(collect_list(struct((idCol +: MinhashCols).map(col): _*)).as("m"))
      .select(explode(filter(col("m"), b => exists(col("m"), a =>
        a(idCol) < b(idCol) && estSim(a, b) >= simThreshold))).as("d"))
      .select(col(s"d.$idCol").as(idCol))
  }

  /** Incremental dedup: band-match a new batch against an existing
    * corpus. Returns one row per batch doc that collides with the
    * corpus index — (batch_id, matched_min, n_matched). The corpus
    * side is the precomputed band-key index; only the batch (small)
    * is banded fresh, so per-batch cost is O(|batch| + collisions),
    * never O(|corpus|).
    */
  def incrementalBandMatches(corpusSig: DataFrame, batchSig: DataFrame, idCol: String,
                             k: Int = 16, rowsPerBand: Int = 2): DataFrame =
    bandMatches(
      bandKeys(corpusSig, idCol, k, rowsPerBand).withColumnRenamed(idCol, "corpus_id"),
      batchSig, idCol, k, rowsPerBand)

  /** Same, against an already-materialized band index
    * ((corpus_id, band_id, band_hash) rows — e.g. the persistent index
    * a streaming ingest maintains).
    */
  def bandMatches(corpusBands: DataFrame, batchSig: DataFrame, idCol: String,
                  k: Int = 16, rowsPerBand: Int = 2): DataFrame = {
    val bb = bandKeys(batchSig, idCol, k, rowsPerBand)
      .withColumnRenamed(idCol, "batch_id")
    bb.join(corpusBands, Seq("band_id", "band_hash"))
      .groupBy(col("batch_id"))
      .agg(min(col("corpus_id")).as("matched_min"),
        countDistinct(col("corpus_id")).as("n_matched"))
  }

  /** LSH banding over a signature frame: bands of `rowsPerBand`
    * signature rows hashed to a band key; docs sharing any band key are
    * candidate pairs. Returns (idCol_a, idCol_b, est_sim) where est_sim
    * is the fraction of agreeing minhashes.
    *
    * `maxBandBucket` (opt-in) drops band buckets larger than the cap
    * before the self-join: a degenerate band value shared by m docs
    * contributes m² candidate work, so one boilerplate-heavy bucket
    * (empty docs, templates) can dominate the whole job at corpus
    * scale. Docs in a dropped bucket still pair through their other
    * k/rowsPerBand−1 bands — the standard recall-for-bound trade;
    * None (the default) keeps exact behavior.
    */
  def lshCandidatePairs(sigIn: DataFrame, idCol: String,
                        k: Int = 16, rowsPerBand: Int = 2,
                        maxBandBucket: Option[Int] = None): DataFrame = {
    // The signature frame feeds four branches (two band sides, two
    // agreement sides): cache it — at scale, signatures are a
    // materialized table computed once per corpus.
    val sig = graft.util.CacheScope.pin(sigIn)
    val allBanded = bandKeys(sig, idCol, k, rowsPerBand)
    val banded = maxBandBucket match {
      case None => allBanded
      case Some(cap) =>
        // one cheap count-agg on the band key (partial-aggregated)
        // bounds the join's worst bucket; no extra pass over docs
        val sizes = allBanded.groupBy(col("band_id"), col("band_hash"))
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") <= cap)
          .drop("bucket_n")
        allBanded.join(sizes, Seq("band_id", "band_hash"))
    }
    val a = banded.as("a")
    val b = banded.as("b")
    val cand = a.join(b,
        col("a.band_id") === col("b.band_id") &&
        col("a.band_hash") === col("b.band_hash") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val sa = sig.toDF(sig.columns.toIndexedSeq.map(c => if (c == idCol) "id_a" else s"a_$c"): _*)
    val sb = sig.toDF(sig.columns.toIndexedSeq.map(c => if (c == idCol) "id_b" else s"b_$c"): _*)
    val agree = (0 until k)
      .map(i => when(col(s"a_${mhCol(i)}") === col(s"b_${mhCol(i)}"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"), (agree.cast("double") / k).as("est_sim"))
  }

  /** Exact n-gram Jaccard for pairs sharing at least one shingle —
    * inverted-index join, |common| via groupBy, sizes joined back in.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3): DataFrame = {
    // Join on the 48-bit shingle hash, not the shingle string: same
    // result (collision odds ~1e-7 at 1e5 shingles), a fraction of the
    // shuffle bytes. Per-doc dedup happens map-side on the hash ARRAY
    // (array_distinct hashes primitives — linear per row), so the
    // posting list needs no groupBy shuffle and the per-doc sizes are
    // a map-only projection. The exploded frame feeds both join sides
    // — cache it, mirroring the materialize-once shape at scale.
    val hashed = graft.util.CacheScope.pin(df.select(col(idCol).as("id"),
        array_distinct(TextFns.shingleHashes48(TextFns.tokens(col(textCol)), shingleN)).as("hvs")))
    val sh = hashed.select(col("id"), explode(col("hvs")).as("hv"))
    val sizes = hashed.select(col("id"), size(col("hvs")).cast("long").as("sz"))
    // (A df>=2 rare-shingle prefilter was measured here and LOST —
    // ~1.95s vs ~1.45s at sf0.1: the extra count-agg + key join cost
    // more than the singleton postings they remove, since singleton
    // join rows produce no pairs and barely any probe work anyway.)
    // pinned shuffle-hash: the posting-list self-join has heavy key
    // duplication, where a broadcast hash build is both slower and
    // unstable (AQE flips strategies run to run)
    val common = sh.as("x").join(sh.as("y").hint("shuffle_hash"),
        col("x.hv") === col("y.hv") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common"))).as("jaccard"))
  }

  /** Exact-threshold Jaccard pairs via PREFIX FILTERING (the
    * PPJoin-family scale path): provably the same pair set as
    * [[jaccardPairs]] filtered at `threshold`, at a fraction of the
    * join work. Each doc's shingle set is ordered by a global
    * (rarest-first) token order and only its PREFIX — the first
    * |d| − ⌈t·|d|⌉ + 1 tokens — is indexed: if J(A,B) ≥ t, then
    * |A∩B| ≥ t·max(|A|,|B|), so A and B MUST share an element inside
    * both prefixes (pigeonhole under the common order) — candidates
    * from the prefix index have recall exactly 1, and the exact
    * intersection count verifies each candidate.
    *
    * Why rarest-first: the prefix then holds each doc's LEAST frequent
    * shingles, so prefix-index collisions (the candidate count, which
    * prices the whole join) are minimized — the standard ppjoin
    * ordering. At threshold 0.8 a 100-shingle doc indexes 21 tokens
    * instead of 100; candidate work falls superlinearly because both
    * sides shrink AND the surviving tokens are rare.
    *
    * Scale shape: one postings aggregation (+df join), one
    * per-doc window to rank tokens (partitioned by doc — parallel),
    * the PREFIX-only self-join, then a per-pair array-intersection
    * verify — work ∝ candidates, never full-postings². When it wins:
    * COLLISION-HEAVY corpora (boilerplate/template duplication —
    * hot shingles make the full inverted-index self-join quadratic
    * in the hot keys, while rarest-first prefixes dodge them
    * entirely; `DedupSimSpec` demonstrates a corpus where the full
    * join inspects thousands of collision pairs and the prefix index
    * generates ZERO candidates). When it loses: collision-LIGHT
    * corpora — the df-ranking pass costs one full-postings window
    * regardless of threshold, so if the plain self-join is already
    * cheap ([[jaccardPairs]]' measured shape on the near-unique-
    * shingle testdata), prefer it. Output: (id_a, id_b, jaccard) for
    * pairs with jaccard ≥ threshold.
    */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double, shingleN: Int = 3): DataFrame = {
    val (hashed, cand) = jaccardPrefixCandidates(df, idCol, textCol, threshold, shingleN)
    // verify: per-pair ARRAY intersection — one row per candidate
    // carrying both (already-distinct) hash sets, never a fan-out of
    // candidates × postings (an earlier postings-join verify measured
    // 25× SLOWER than the full inverted index at 10× data: the
    // cand ⋈ postings_a frame repeats every candidate |A| times)
    val common = cand
      .join(hashed.select(col("id").as("id_a"), col("hvs").as("_hvs_a")), "id_a")
      .join(hashed.select(col("id").as("id_b"), col("hvs").as("_hvs_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("_hvs_a"), col("_hvs_b"))).cast("long").as("common"),
        size(col("_hvs_a")).cast("long").as("sz_a"),
        size(col("_hvs_b")).cast("long").as("sz_b"))
    common
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The (hashed-sets, candidate-pairs) frames behind
    * [[jaccardPairsPrefix]] — candidates exposed so the work
    * reduction (the quantity that prices the join) is testable and
    * observable without re-deriving the internals. */
  private[graft] def jaccardPrefixCandidates(df: DataFrame, idCol: String, textCol: String,
                                             threshold: Double,
                                             shingleN: Int = 3): (DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccardPairsPrefix needs threshold in (0, 1], got $threshold")
    val hashed = graft.util.CacheScope.pin(df.select(col(idCol).as("id"),
      array_distinct(TextFns.shingleHashes48(TextFns.tokens(col(textCol)), shingleN)).as("hvs")))
    val sh = graft.util.CacheScope.pin(
      hashed.select(col("id"), size(col("hvs")).cast("long").as("sz"),
        explode(col("hvs")).as("hv")))
    val dfs = sh.groupBy(col("hv")).agg(count(lit(1)).as("hdf"))
    // rarest-first global order; per-doc rank is a doc-partitioned window
    val ranked = sh.join(dfs, "hv")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("id")).orderBy(col("hdf"), col("hv"))))
    // the pigeonhole bound needs ceil(sz·t) EXACTLY: when sz·t is an
    // integer k but the double product lands one ulp above it, a bare
    // ceil yields k+1 and the prefix silently loses one position —
    // breaking the recall-1 guarantee. Rounding the product to 9
    // decimals first absorbs the ulp (thresholds are human-scale
    // constants like 0.8, never precise to 1e-9) so the bound can only
    // be computed, never tightened by FP noise.
    val prefix = graft.util.CacheScope.pin(ranked
      .filter(col("rn") <=
        col("sz") - ceil(round(col("sz") * lit(threshold), 9)) + lit(1))
      .select(col("id"), col("hv")))
    val cand = prefix.as("x").join(prefix.as("y").hint("shuffle_hash"),
        col("x.hv") === col("y.hv") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    (hashed, cand)
  }

  /** SimHash near-dup pairs via bit-band blocking. The 48-bit simhash
    * is split into `bands` equal chunks; docs sharing any chunk value
    * are candidates, then the exact hamming distance (popcount of XOR)
    * filters. With `bands > maxHamming` the pigeonhole principle makes
    * recall exactly 1 (k bit flips can touch at most k bands, so one
    * band always survives intact) — the blocked plan provably equals
    * the O(n²) scan. One explode (×bands) + one equi-join on the band
    * value; the 8-byte signature rides along, so no re-join.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(bands > maxHamming, "recall-1 blocking needs bands > maxHamming")
    require(48 % bands == 0, "bands must divide 48")
    val bits = 48 / bands
    val mask = (1L << bits) - 1
    val banded = simhash48(df, idCol, textCol)
      .select(col(idCol).as("id"), col("simhash48"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band_id"),
            shiftright(col("simhash48"), b * bits).bitwiseAND(lit(mask)).as("band_val"))): _*)).as("bd"))
      .select(col("id"), col("simhash48"), col("bd.band_id"), col("bd.band_val"))
    banded.as("a").join(banded.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash48").bitwiseXOR(col("b.simhash48"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Resolve each near-dup-dropped doc's audit pointer BOTH ways: the
    * direct minimum colliding candidate (what min-id-wins actually
    * compared it against — may itself be dropped in a chain A<B<C)
    * and the transitive cluster keeper via [[Graphs.connectedComponents]]
    * (the component minimum, which min-id-wins never drops — the doc
    * that actually SURVIVES the stage). `direct_is_keeper` marks rows
    * where the two coincide; chains are exactly the rows where it is
    * false. Input: (id_a, id_b, …) candidate pairs already filtered
    * to the drop threshold.
    */
  def resolveDropTargets(pairs: DataFrame): DataFrame = {
    val direct = pairs.groupBy(col("id_b").as("doc_id"))
      .agg(min(col("id_a")).as("killed_by_direct"))
    val comp = Graphs.connectedComponents(pairs).withColumnRenamed("id", "doc_id")
    direct.join(comp, "doc_id")
      .select(col("doc_id"), col("killed_by_direct"),
        col("cluster_id").as("killed_by_resolved"),
        (col("killed_by_direct") === col("cluster_id")).as("direct_is_keeper"))
  }

  /** Asymmetric containment: |shingles(a) ∩ shingles(b)| / |shingles(a)|
    * — ≈1 when doc a is (mostly) a substring/excerpt of doc b even if b
    * is far larger, which symmetric Jaccard misses. Same inverted-index
    * shape as [[jaccardPairs]]; emits both directions of each
    * intersecting pair. `minContainment` filters server-side.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       minContainment: Double, shingleN: Int = 3): DataFrame = {
    val hashed = graft.util.CacheScope.pin(df.select(col(idCol).as("id"),
        array_distinct(TextFns.shingleHashes48(TextFns.tokens(col(textCol)), shingleN)).as("hvs")))
    val sh = hashed.select(col("id"), explode(col("hvs")).as("hv"))
    val sizes = hashed.select(col("id"), size(col("hvs")).cast("long").as("sz"))
    val common = sh.as("x").join(sh.as("y").hint("shuffle_hash"),
        col("x.hv") === col("y.hv") && col("x.id") =!= col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") / col("sz_a")).as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** 48-bit simhash over token occurrences (md5-derived bit votes).
    * Bitwise ops via exact pow-of-2 division so the identical value is
    * derivable in any engine (no engine-specific hash).
    */
  def simhash48(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // Map-only: bit votes are a per-document reduction over the doc's
    // own tokens — the native one-pass expression needs no explode and
    // no groupBy shuffle. (Every doc tokenizes to ≥1 element — split
    // of an empty string is [""] — so no rows vanish.)
    df.select(col(idCol),
      TextFns.simhash48(TextFns.tokens(col(textCol))).as("simhash48"))

  /** Cross-document repeated-span REWRITE — the removal half of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): drop every token covered by
    * an `n`-gram occurring verbatim in ≥ `minDf` distinct documents,
    * and emit the cleaned text. The detection half (per-doc coverage
    * counts) is `q_span_mask`; this materializes the rewrite.
    *
    * Output: (idCol, `n_tokens`, `n_kept`, `clean_text`) — kept tokens
    * rejoined on single spaces in original order; a fully-covered doc
    * yields an empty string; a doc shorter than `n` tokens has no
    * grams and passes through intact.
    *
    * Scale shape: the inverted-index form of `q_span_mask` with NO
    * token-grain shuffle — postings explode (∝ corpus tokens,
    * map-side) → df aggregation on the 48-bit gram hash → join back
    * (∝ repeated occurrences) → per-doc covered-position ARRAYS
    * (`collect_set`, shuffle ∝ repeated occurrences only, bounded per
    * doc by its length) → one doc-grain left join → higher-order
    * filter over the token array (per-token membership probe against
    * the doc's own covered set). A doc with no repeated span never
    * shuffles its tokens at all.
    */
  def dropRepeatedSpans(docs: DataFrame, n: Int = 8, minDf: Int = 2,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(n >= 1, s"dropRepeatedSpans needs n >= 1, got $n")
    require(minDf >= 2, s"dropRepeatedSpans needs minDf >= 2, got $minDf")
    val id = col(idCol)
    val base = docs.select(id, TextFns.tokens(col(textCol)).as("_tk"))
      .withColumn("n_tokens", size(col("_tk")).cast("long"))
    // the postings frame feeds two branches (df aggregation and the
    // join-back) — pin it so tokenize+shingle+posexplode runs once
    val grams = graft.util.CacheScope.pin(base.filter(col("n_tokens") >= n)
      .select(id, posexplode(TextFns.shingleHashes48(col("_tk"), n)))
      .toDF(idCol, "pos", "hv"))
    val repeated = grams.select(col("hv"), id).distinct()
      .groupBy(col("hv")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select(col("hv"))
    // per-doc covered positions as one array row — rows ∝ docs that
    // actually contain a repeated span, payload ≤ the doc's length
    val covered = grams.join(repeated, "hv")
      .select(id, explode(sequence(col("pos"), col("pos") + (n - 1))).as("j"))
      .groupBy(id).agg(collect_set(col("j")).as("_cov"))
    base.join(covered, Seq(idCol), "left")
      .withColumn("_keep", filter(
        transform(col("_tk"), (tok, i) => struct(i.as("j"), tok.as("tok"))),
        s => col("_cov").isNull || !array_contains(col("_cov"), s.getField("j"))))
      .select(id, col("n_tokens"),
        size(col("_keep")).cast("long").as("n_kept"),
        array_join(transform(col("_keep"), s => s.getField("tok")), " ")
          .as("clean_text"))
  }

  /** Sorted-neighborhood near-dup candidates (Hernández/Stolfo SNM —
    * the classic entity-resolution alternative to LSH banding): sort
    * the corpus by a cheap blocking key (here the doc's first
    * `keyTokens` tokens), pair every doc with its next `window`
    * successors in that total order, and confirm each candidate with
    * the EXACT `shingleN`-gram Jaccard — emitted as integer
    * intersection/union sizes so the compare is engine-exact.
    *
    * Scale shape: the total order comes from
    * [[graft.operators.Ranking.globalRowNumber]] (range-partitioned,
    * fully parallel — NOT a single-task global window); the
    * successor pairing is a map-side explode of `window` probe ranks
    * joined back on the rank (one equi-join shuffled on a dense long
    * key, perfectly balanced by construction). Work is O(corpus ×
    * window), never O(n²), and unlike LSH the candidate count per doc
    * is a hard constant — no hot-bucket hazard at all. Recall is what
    * SNM gives: near-dups that share the sort-key prefix land within
    * the window; edits inside the first `keyTokens` tokens can escape
    * (that is the documented trade; multi-pass SNM with a second key
    * order is the standard fix and composes by unioning pair sets —
    * pass `keyExpr` to supply the alternate order, e.g. a suffix key).
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, textCol: String,
                              window: Int = 4, keyTokens: Int = 4,
                              shingleN: Int = 3,
                              keyExpr: Option[Column] = None): DataFrame = {
    require(window >= 1, s"sortedNeighborhoodPairs needs window >= 1, got $window")
    val id = col(idCol)
    val key = keyExpr.getOrElse(
      concat_ws(" ", slice(TextFns.tokens(col(textCol)), 1, keyTokens)))
    val withKey = df.select(id.as("id"), key.as("_snkey"),
        TextFns.tokens(col(textCol)).as("_tk"))
      .select(col("id"), col("_snkey"),
        array_distinct(TextFns.shingleHashes48(col("_tk"), shingleN)).as("_sh"))
    val ranked = graft.util.CacheScope.pin(
      graft.operators.Ranking.globalRowNumber(
        withKey, Seq(col("_snkey"), col("id")), out = "_rn"))
    // each doc probes its `window` successors: explode the target
    // ranks map-side, equi-join on the dense rank — no range predicate,
    // no skew (every rank value appears at most `window`+1 times)
    val probes = ranked.select(col("id").as("id_a"), col("_sh").as("sh_a"),
      explode(sequence(col("_rn") + 1, col("_rn") + window)).as("_rn"))
    probes.join(ranked.select(col("_rn"), col("id").as("id_b"), col("_sh").as("sh_b")), "_rn")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_common"),
        (size(col("sh_a")) + size(col("sh_b")) -
          size(array_intersect(col("sh_a"), col("sh_b")))).cast("long").as("n_union"))
  }

  /** Edit-distance-confirmed near-dup pairs under prefix blocking:
    * docs sharing their first `keyTokens` tokens verbatim are
    * candidates; a candidate pair survives when full Levenshtein
    * distance ≤ `maxDist`. The short-string half of the near-dup
    * toolkit (titles, URLs, product names — granularities where
    * n-gram Jaccard is too coarse and edit distance is the metric of
    * record in entity-resolution practice).
    *
    * Scale shape: one equi-join shuffled on the block key — work ∝
    * Σ_b |b|², bounded by the blocking key's selectivity, never
    * corpus². `maxBlock` caps pathological blocks (boilerplate
    * prefixes) exactly like the LSH hot-band cap: blocks larger than
    * the cap are dropped, trading recall inside degenerate blocks for
    * a hard worst-case bound; pass 0 to disable. Levenshtein itself
    * runs only on surviving candidates — the O(|a|·|b|) DP is the
    * confirm step, same role as the hamming check in simhash blocking.
    */
  def blockedEditPairs(df: DataFrame, idCol: String, textCol: String,
                       keyTokens: Int = 4, maxDist: Int = 10,
                       maxBlock: Int = 64): DataFrame = {
    val id = col(idCol)
    val keyed = graft.util.CacheScope.pin {
      val base = df.select(id.as("id"), col(textCol).as("_txt"),
        concat_ws(" ", slice(TextFns.tokens(col(textCol)), 1, keyTokens)).as("_bkey"))
      if (maxBlock > 0) {
        val ok = base.groupBy(col("_bkey")).agg(count(lit(1)).as("_bn"))
          .filter(col("_bn") <= maxBlock).select(col("_bkey"))
        base.join(ok, Seq("_bkey")) // key-list join; AQE picks broadcast when small
      } else base
    }
    keyed.as("a").join(keyed.as("b"),
        col("a._bkey") === col("b._bkey") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        levenshtein(col("a._txt"), col("b._txt")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
  }

  /** Per-document n-gram novelty against the corpus — the "how much
    * of this doc is new text" curation signal (high duplication ⇒ low
    * novelty ⇒ down-sample or drop; see the exact-substring dedup
    * literature): a doc's distinct `n`-gram is NOVEL when no doc with
    * a smaller id contains it, i.e. the corpus-wide first occurrence
    * (min id over the gram's postings) is this doc. Emits exact
    * integer distinct/novel gram counts per doc.
    *
    * Scale shape: map-side tokenize + one-pass 48-bit gram hashing,
    * one aggregation shuffled on the gram hash (min-id — partial aggs
    * combine map-side), one join back on the hash, one per-doc count
    * aggregation. Work ∝ total grams; nothing quadratic, no windows.
    */
  def ngramNovelty(docs: DataFrame, n: Int = 8,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val id = col(idCol)
    val grams = graft.util.CacheScope.pin(
      docs.select(id, TextFns.tokens(col(textCol)).as("_tk"))
        .filter(size(col("_tk")) >= n)
        .select(id, explode(array_distinct(
          TextFns.shingleHashes48(col("_tk"), n))).as("hv")))
    val firstOwner = grams.groupBy(col("hv")).agg(min(id).as("_first"))
    grams.join(firstOwner, "hv")
      .groupBy(id)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_first") === id, 1L).otherwise(0L)).as("n_novel"))
  }

  /** Incremental batch-vs-corpus novelty: score each NEW document's
    * distinct `n`-grams against the standing corpus's gram index —
    * the admission-time twin of [[ngramNovelty]] (which is the
    * backfill form), and the novelty analogue of
    * [[incrementalBandMatches]]: per increment the 100 TB corpus is
    * read ZERO times — `corpusIndex` is the materialized distinct
    * gram-hash frame (build once with [[gramIndex]], persist as
    * parquet, append each admitted batch's grams).
    *
    * Emits (`idCol`, n_grams, n_seen) per batch doc — n_seen grams
    * already exist in the corpus; admission policy thresholds on the
    * seen ratio. Scale shape: batch grams ⋈ index on the 48-bit hash
    * (one equi-join, work ∝ batch grams + collisions) + one per-doc
    * count aggregation. Integer counts end-to-end.
    */
  def incrementalNovelty(corpusIndex: DataFrame, batch: DataFrame, n: Int = 8,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val id = col(idCol)
    val bg = batch.select(id, TextFns.tokens(col(textCol)).as("_tk"))
      .filter(size(col("_tk")) >= n)
      .select(id, explode(array_distinct(
        TextFns.shingleHashes48(col("_tk"), n))).as("hv"))
    val seen = corpusIndex.select(col("hv")).distinct()
      .withColumn("_seen", lit(1L))
    bg.join(seen, Seq("hv"), "left")
      .groupBy(id)
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("_seen"), lit(0L))).as("n_seen"))
  }

  /** The corpus gram index [[incrementalNovelty]] probes: distinct
    * 48-bit `n`-gram hashes of the corpus, one `hv` column — persist
    * as parquet and append admitted batches' grams to keep it current.
    */
  def gramIndex(corpus: DataFrame, n: Int = 8,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    corpus.select(TextFns.tokens(col(textCol)).as("_tk"))
      .filter(size(col("_tk")) >= n)
      .select(explode(array_distinct(
        TextFns.shingleHashes48(col("_tk"), n))).as("hv"))
      .distinct()

  /** Intra-document line dedup — the boilerplate-removal step run
    * INSIDE each document (repeated nav bars / footers / headers that
    * whole-document dedup never sees, CCNet-style). A "line" is a
    * consecutive `lineTokens`-token chunk; each line's FIRST
    * occurrence survives and `clean_text` rebuilds the document in
    * original order. Output: (`idCol`, n_lines, n_unique_lines,
    * clean_text).
    *
    * Scale shape: map-only chunking, then one aggregation at the
    * (doc, line) grain — tokens/`lineTokens` rows, below the token
    * grain the span operators pay; the rebuild is a per-doc
    * collect_list of that doc's own unique lines (bounded by doc
    * length, the same per-doc bound every text op here carries).
    */
  def dedupLines(df: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", lineTokens: Int = 8): DataFrame = {
    require(lineTokens >= 1, s"dedupLines needs lineTokens >= 1, got $lineTokens")
    val id = col(idCol)
    val lines = df
      .select(id, TextFns.tokens(col(textCol)).as("_tk"))
      .select(id, expr(
        s"transform(sequence(0, (size(_tk) + ${lineTokens - 1}) div $lineTokens - 1)," +
          s" i -> array_join(slice(_tk, i * $lineTokens + 1, $lineTokens), ' '))").as("_ls"))
    val firsts = lines
      .select(id, posexplode(col("_ls")).as(Seq("_pos", "_line")))
      .groupBy(id, col("_line")).agg(min(col("_pos")).as("_fp"))
    val rebuilt = firsts.groupBy(id).agg(
      count(lit(1)).as("n_unique_lines"),
      array_join(transform(
        array_sort(collect_list(struct(col("_fp"), col("_line")))),
        x => x.getField("_line")), " ").as("clean_text"))
    lines.select(id, size(col("_ls")).cast("long").as("n_lines"))
      .join(rebuilt, idCol)
  }

  /** Chunk-grain duplication audit — the signal BETWEEN doc-level
    * dedup and span masking: a doc can be globally unique while most
    * of its retrieval/embedding chunks already exist verbatim
    * elsewhere (mirrored sections, syndicated fragments), which
    * inflates an embedding index and leaks near-identical contexts
    * into training. Chunks are the standard overlapping windows
    * ([[graft.retrieval.Retrieval.chunkWindowsWithText]]); a chunk is
    * duplicated when its text occurs ≥ 2 times corpus-wide (48-bit
    * md5 key — the repo-wide collision budget). Output per doc:
    * (idCol, n_chunks, n_dup_chunks).
    *
    * Scale shape: map-only chunking, ONE hash-keyed frequency
    * aggregation (partial map-side), one join-back on the hash, one
    * per-doc rollup — chunk-count rows end to end, never pairs.
    */
  def chunkDupStats(docs: DataFrame, window: Int = 64, stride: Int = 48,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val chunks = graft.util.CacheScope.pin(
      graft.retrieval.Retrieval.chunkWindowsWithText(docs, window, stride, textCol, idCol)
        .select(col(idCol), TextFns.hash48(col("chunk_text")).as("hv")))
    val freq = chunks.groupBy(col("hv")).agg(count(lit(1)).as("n_occ"))
    chunks.join(freq, "hv")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
  }
}
