package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.algorithms.{Fixpoint, GraphAlgorithms}

/**
 * Deduplication operators for training-data pipelines, exact → fuzzy:
 *
 *  - exact / normalized-exact: hash-groupBy, one shuffle on the digest.
 *  - MinHash + LSH: one-pass signature array per document → banded
 *    bucket join on array-slice hashes → agreement prefilter on the
 *    arrays → exact Jaccard of candidates only, by merging their sorted
 *    shingle-hash sets in the row. The classic near-dup pipeline at
 *    corpus scale: cost is one narrow map over documents plus a shuffle
 *    on (band, bucket), never an all-pairs product or a shingle explode.
 *  - SimHash: 64-bit signature via per-bit token-hash voting; near-dups
 *    found by 16-bit chunk banding + Hamming verification (bit_count(xor)).
 *
 * Everything is built from native Catalyst expressions
 * ([[graft.functions]]) and built-in functions — zero UDFs.
 */
object Dedup {

  // ----- exact ------------------------------------------------------------

  /** Keep the lowest-id row per exact text digest. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dupes"))

  /** Exact dedup after whitespace/case normalization. */
  def normalizedExact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(regexp_replace(lower(trim(col(textCol))), "\\s+", " ")).as("digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dupes"))

  /**
   * Cross-source PRIORITY dedup — the corpus-union step of a curation
   * pipeline: when the same content arrives from several sources
   * (curated dump vs crawl vs mirror), each duplicate group keeps ONE
   * document chosen by source priority, not arrival order. `key` is the
   * grouping column (a digest, a normalized-prefix hash for templated
   * docs, or a near-dup cluster label); `priority` lists sources best
   * first — unlisted sources rank behind every listed one, ties break on
   * the smallest id, so the winner is total-order deterministic.
   * Returns one row per group: (digest, idCol, sourceCol, dupes).
   *
   * Shape: ONE shuffle on the group key; both window functions (rank
   * row_number + group count) share that partitioning. At 100 TB this
   * is the same cost as exact dedup — the priority logic is free.
   */
  def priorityDedup(df: DataFrame, idCol: String, sourceCol: String,
                    key: Column, priority: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rank = priority.zipWithIndex.foldRight(lit(priority.size): Column) {
      case ((s, i), acc) => when(col(sourceCol) === s, lit(i)).otherwise(acc)
    }
    val byKey = Window.partitionBy(col("digest"))
    df.select(key.as("digest"), col(idCol), col(sourceCol), rank.as("__rank"))
      .withColumn("__rn",
        row_number().over(byKey.orderBy(col("__rank"), col(idCol))))
      .withColumn("dupes", count(lit(1)).over(byKey))
      .where(col("__rn") === 1)
      .select(col("digest"), col(idCol), col(sourceCol), col("dupes"))
  }

  // ----- MinHash + LSH ----------------------------------------------------

  /** Deterministic permutation parameters (a_i, b_i) for H hash functions,
    * from a fixed LCG seed so signatures are reproducible run-to-run. */
  private[pipeline] def hashParams(numHashes: Int): (Seq[Long], Seq[Long]) = {
    val p = 1000000007L
    var state = 42L
    def next(): Long = { state = (state * 6364136223846793005L + 1442695040888963407L); math.floorMod(state, p - 1) + 1 }
    val as = Seq.fill(numHashes)(next())
    val bs = Seq.fill(numHashes)(next())
    (as, bs)
  }

  private val P = 1000000007L

  /** Trimmed, lower-cased text with whitespace runs collapsed: the string
    * the signature and the shingle set window over. */
  private def normalized(textCol: String): Column =
    regexp_replace(lower(trim(col(textCol))), "\\s+", " ")

  /** The one-pass MinHash signature ([[graft.functions.MinhashSignature]])
    * as a column over RAW text, with the deterministic hash params of
    * [[hashParams]]; NULL for documents shorter than `shingleSize`. Shared
    * with the streaming near-dup form
    * ([[graft.streaming.StreamDedup.nearDupMinhash]]). */
  def minhashSigCol(textCol: String, shingleSize: Int, numHashes: Int): Column = {
    val (as, bs) = hashParams(numHashes)
    graft.functions.minhashSig(normalized(textCol), shingleSize, as.toArray, bs.toArray, P)
  }

  /** (id, sig) for every document with at least one shingle. */
  private def sigTable(df: DataFrame, textCol: String, idCol: String,
                       shingleSize: Int, numHashes: Int): DataFrame =
    df.select(col(idCol).as("id"), minhashSigCol(textCol, shingleSize, numHashes).as("sig"))
      .where(col("sig").isNotNull)

  /**
   * Banded-LSH candidates between two signature tables (id, sig): pairs
   * whose signatures are equal on every row of some band. A band's bucket
   * is the xxhash64 of its slice of the signature array, so only (band,
   * bucket, id) rows go through the bucket join; `self` keeps idA < idB.
   * Each colliding (pair, band) row then gets both signature arrays, and
   * the row of the pair's first equal band is its one output row — no
   * distinct over the pairs.
   *
   * The same rows carry the signature-agreement prefilter: the banding
   * S-curve at r rows/band is permissive well below the threshold (r=4
   * collides j≈0.3 pairs at ~1% per band), and every surviving candidate
   * costs a shingle-set build and merge in verification. The estimated
   * jaccard (the fraction of the numHashes mins that agree) drops
   * candidates more than `prefilterMargin` below the threshold. At 64
   * hashes the estimator's σ is ≤ 0.0625, so the default margin of 0.25
   * is a ≥4σ guard: miss probability ~3e-7 per true pair — orders of
   * magnitude below the banding's own miss rate (~2e-4 at j = 0.8), i.e.
   * strictly within the LSH recall budget.
   */
  private def lshCandidates(sigsA: DataFrame, sigsB: DataFrame, numHashes: Int,
      bands: Int, threshold: Double, prefilterMargin: Double, self: Boolean): DataFrame = {
    val rows = numHashes / bands
    def bandOf(sig: Column, b: Column): Column = slice(sig, b * rows + 1, lit(rows))
    def banded(sigs: DataFrame): DataFrame =
      sigs.select(col("id"), posexplode(array((0 until bands).map(b =>
        xxhash64(bandOf(col("sig"), lit(b)))): _*)).as(Seq("band", "bucket")))
    val collided = banded(sigsA).as("a").join(banded(sigsB).as("b"), Seq("band", "bucket"))
      .select(col("a.id").as("idA"), col("b.id").as("idB"), col("band"))
    val sigA = col("sa.sig")
    val sigB = col("sb.sig")
    val firstBand = array_position(transform(sequence(lit(0), lit(bands - 1)),
      b => bandOf(sigA, b) === bandOf(sigB, b)), true) - 1
    val agree = aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), _ + _)
    val minAgree = math.ceil((threshold - prefilterMargin) * numHashes)
    (if (self) collided.where(col("idA") < col("idB")) else collided)
      .join(sigsA.as("sa"), col("idA") === col("sa.id"))
      .join(sigsB.as("sb"), col("idB") === col("sb.id"))
      .where(col("band") === firstBand && agree >= minAgree)
      .select(col("idA"), col("idB"))
  }

  /** The `n` candidate ids of a checkpointed candidate frame, hinted
    * broadcast under [[GraphAlgorithms.gatedBc]]'s cap: a checkpoint has
    * no statistics, so unhinted the semi-join in [[shingleSets]] is planned
    * as a sort-merge join that shuffles the documents, text included. The
    * documents are never counted, so only the absolute cap applies. */
  private def candidateIds(ids: DataFrame, n: Long): DataFrame =
    GraphAlgorithms.gatedBc(ids, n, Long.MaxValue)

  /** (id, set): the [[graft.functions.ShingleSet]] of each document of
    * `docs` whose id is in `ids` — the semi-join runs on the document
    * table, before the expression, so only candidate documents build a
    * set. */
  private def shingleSets(docs: DataFrame, ids: DataFrame, textCol: String,
      idCol: String, shingleSize: Int): DataFrame =
    docs.join(ids.toDF(idCol), Seq(idCol), "left_semi")
      .select(col(idCol).as("id"),
        graft.functions.shingleSet(normalized(textCol), shingleSize).as("set"))

  /** (idA, idB, jaccard) for the candidate pairs whose exact shingle-set
    * Jaccard is ≥ threshold, rounded to 6 places: each pair merges its two
    * sorted sets in the row, so only ids and sets shuffle and no posting
    * rows are exploded. */
  private def verified(cand: DataFrame, setsA: DataFrame, setsB: DataFrame,
                       threshold: Double): DataFrame =
    cand.join(setsA.as("x"), col("idA") === col("x.id"))
      .join(setsB.as("y"), col("idB") === col("y.id"))
      .select(col("idA"), col("idB"),
        graft.functions.sortedJaccard(col("x.set"), col("y.set")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), round(col("jaccard"), 6).as("jaccard"))

  /**
   * Near-duplicate pairs via banded LSH over MinHash signatures. Returns
   * (idA, idB, jaccard) with idA < idB and exact shingle-set Jaccard ≥
   * threshold. bands * rowsPerBand = numHashes.
   *
   * Shape at scale: one narrow projection computes each document's
   * signature array ([[minhashSigCol]]; no shingle explode, no
   * aggregate) → banded bucket self-join on (band, bucket, id) only →
   * agreement prefilter on the arrays → exact verification by a sorted
   * merge of the two candidate documents' shingle sets in the row
   * ([[verified]]). No all-pairs product, and nothing wider than an id
   * plus an array shuffles.
   *
   * `eager = true` (default) localCheckpoints the signatures, the
   * candidate list and the (small) result — every consumer reads
   * checkpointed blocks, nothing is pinned after the call, and downstream
   * consumers (e.g. [[nearDupClusters]]' single-task union-find) never
   * re-run the pipeline. `eager = false` returns the lazy plan
   * (plan-inspection / composition into a larger lazy pipeline) over
   * persisted signatures and candidates, whose lifecycle the caller then
   * owns (clear with `spark.sharedState.cacheManager.clearCache()` or
   * accept the leak).
   */
  def minhashPairs(
      df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 5, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, prefilterMargin: Double = 0.25,
      eager: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // the signatures feed both sides of the bucket join and of the
    // prefilter, the candidates both verify sides: each is materialized
    // once (relying on runtime exchange reuse instead was observed NOT to
    // fire — the consumers sit under differently-shaped parent exchanges)
    def pin(d: DataFrame): DataFrame =
      if (eager) d.localCheckpoint(true)
      else d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = pin(sigTable(df, textCol, idCol, shingleSize, numHashes))
    val candPlan = lshCandidates(sigs, sigs, numHashes, bands, threshold,
      prefilterMargin, self = true)
    def ids(c: DataFrame): DataFrame = c.select("idA").union(c.select("idB"))
    val (cand, candIds) =
      if (eager) {
        val (c, n) = Fixpoint.materialize(candPlan)
        (c, candidateIds(ids(c), 2 * n))
      } else {
        val c = pin(candPlan)
        (c, ids(c))
      }
    val sets = shingleSets(df, candIds, textCol, idCol, shingleSize)
    val res = verified(cand, sets, sets, threshold)
    if (eager) res.localCheckpoint(true) else res
  }

  /**
   * CROSS-corpus fuzzy contamination: near-duplicate (corpus, benchmark)
   * pairs via the same banded-MinHash construction as [[minhashPairs]],
   * but with the two sides coming from different frames — the fuzzy
   * complement of [[TextAnalysis.contamination]]'s exact-gram overlap
   * (a paraphrased or lightly-edited benchmark leak shares most shingles
   * without sharing any exact 8-gram). Returns (idA, idB, jaccard) with
   * idA from `corpus`, idB from `bench`, exact shingle Jaccard ≥
   * threshold.
   *
   * Shape at scale: signatures are computed per side (the benchmark side
   * is tiny — typically thousands of eval documents vs billions of
   * training docs), the bucket join shuffles only (band, bucket, id), and
   * verification builds shingle sets for candidate documents only.
   * Everything is eagerly checkpointed — no cache blocks outlive the call.
   */
  def crossMinhashPairs(
      corpus: DataFrame, bench: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 5, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, prefilterMargin: Double = 0.25): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def sigsOf(df: DataFrame): DataFrame =
      sigTable(df, textCol, idCol, shingleSize, numHashes).localCheckpoint(true)
    val (cand, n) = Fixpoint.materialize(lshCandidates(sigsOf(corpus), sigsOf(bench),
      numHashes, bands, threshold, prefilterMargin, self = false))
    verified(cand,
      shingleSets(corpus, candidateIds(cand.select("idA"), n), textCol, idCol, shingleSize),
      shingleSets(bench, candidateIds(cand.select("idB"), n), textCol, idCol, shingleSize),
      threshold)
      .localCheckpoint(true)
  }

  /** One row per distinct word n-gram: (id, shingle). Tokens are exploded
    * with positions and n-grams assembled with window lead()s — no
    * lambda capture, so the projection and the windows stay codegen'd.
    * Shared with [[TextAnalysis.contamination]]. */
  private[pipeline] def ngramPosting(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("id"),
      posexplode(split(lower(trim(col(textCol))), "\\s+")))
      .where(length(col("col")) > 0)
      .select(col("id"), col("pos"), col("col").as("tok"))
    val w = Window.partitionBy("id").orderBy("pos")
    val grams = (1 until n).foldLeft(toks.withColumn("g", col("tok"))) { (d, i) =>
      d.withColumn("g", concat_ws(" ", col("g"), lead(col("tok"), i).over(w)))
        .withColumn(s"ok$i", lead(col("tok"), i).over(w).isNotNull)
    }
    val okCols = (1 until n).map(i => col(s"ok$i")).reduceOption(_ && _).getOrElse(lit(true))
    grams.where(okCols).select(col("id"), xxhash64(col("g")).as("shingle")).distinct()
  }

  /**
   * Exact n-gram Jaccard similarity for all candidate pairs sharing at
   * least one n-gram (inverted-index join; quadratic only within posting
   * lists).
   *
   * `maxDocFreq` caps candidate generation: n-grams shared by more than
   * that many documents (stopword grams) are excluded from the inverted-
   * index self-join, whose cost is Σ df² over posting lists — one gram in
   * 10⁶ docs alone makes 10¹² candidate rows at corpus scale. Verification
   * still uses the FULL posting lists, so reported jaccard values stay
   * exact; the (documented) approximation is that a pair sharing ONLY
   * frequent grams is never considered. With near-dup thresholds ≥ 0.3
   * such pairs share many grams, so any rare one recovers the pair.
   */
  def ngramJaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Long = Long.MaxValue,
      eager: Boolean = true): DataFrame = {
    // the posting (tokenize + window-lead n-grams + distinct) feeds the
    // size aggregate, the inverted index AND the capped add-back joins —
    // pin one materialization instead of re-running the explode per
    // consumer (same fix as minhashPairs' signature aggregate). Eager →
    // checkpoint (self-cleaning); lazy → persist (caller-owned pin).
    val postingPlan = ngramPosting(df, textCol, idCol, n)
    val posting =
      if (eager) postingPlan.localCheckpoint(true)
      else postingPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = posting.groupBy("id").agg(count(lit(1)).as("sz"))
    val dfreq = posting.groupBy("shingle").agg(count(lit(1)).as("df"))
    val indexed = posting
      .join(dfreq.where(col("df") <= maxDocFreq).select("shingle"), Seq("shingle"))

    // ONE pass produces both the candidate pairs and their rare-gram
    // intersection counts — the count the old shape threw away and then
    // recomputed by re-joining every candidate against its FULL posting
    // list (|candidates| × avg-grams-per-doc intermediate rows, the
    // dominant cost of this operator).
    val l = indexed.select(col("shingle"), col("id").as("idA"))
    val r = indexed.select(col("shingle"), col("id").as("idB"))
    val interRare = l.join(r, Seq("shingle"))
      .where(col("idA") < col("idB"))
      .groupBy("idA", "idB").agg(count(lit(1)).as("interR"))

    // capped runs add back the FREQUENT-gram intersections, but only for
    // the candidate pairs and only over the few df>cap grams — so the
    // reported jaccard stays exact while the Σdf² explosion never happens
    val inter =
      if (maxDocFreq == Long.MaxValue)
        interRare.select(col("idA"), col("idB"), col("interR").as("inter"))
      else {
        val freqPost = posting
          .join(dfreq.where(col("df") > maxDocFreq).select("shingle"), Seq("shingle"))
        val interFreq = interRare.select(col("idA"), col("idB"))
          .join(freqPost.select(col("id").as("idA"), col("shingle")), Seq("idA"))
          .join(freqPost.select(col("id").as("idB"), col("shingle")), Seq("idB", "shingle"))
          .groupBy("idA", "idB").agg(count(lit(1)).as("interF"))
        interRare.join(interFreq, Seq("idA", "idB"), "left")
          .select(col("idA"), col("idB"),
            (col("interR") + coalesce(col("interF"), lit(0L))).as("inter"))
      }

    val res = inter
      .join(sizes.select(col("id").as("idA"), col("sz").as("szA")), Seq("idA"))
      .join(sizes.select(col("id").as("idB"), col("sz").as("szB")), Seq("idB"))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("szA") + col("szB") - col("inter")).cast(DoubleType))
      .where(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), round(col("jaccard"), 6).as("jaccard"))
    if (eager) res.localCheckpoint(true) else res
  }

  // ----- SimHash ----------------------------------------------------------

  /** Value 0-15 of a single lowercase hex digit column. */
  private def hexVal(c: Column): Column =
    when(ascii(c) >= 97, ascii(c) - 87).otherwise(ascii(c) - 48)

  /** 64-bit SimHash of the token multiset: bit b of the signature is set
    * iff the sum over tokens of (bit b of the token hash ? +1 : -1) is
    * non-negative. The token hash is the first 64 bits of md5 read as 16
    * hex digits (bit b = bit b%4 of digit b/4) — chosen over xxhash64
    * because every engine can replay md5, making signatures verifiable
    * against an independent implementation. */
  def simhash(textCol: String): Column = {
    val toks = filter(split(lower(trim(col(textCol))), "\\s+"), t => length(t) > 0)
    val votes = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) => zip_with(acc,
        transform(sequence(lit(0), lit(63)), b => {
          val d = hexVal(md5(t).substr(call_function("shiftright", b, lit(2)) + 1, lit(1)))
          call_function("shiftright", d, pmod(b, lit(4))).bitwiseAND(lit(1)).cast(LongType)
        }),
        (a, bit) => a + bit * 2 - 1))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)), (v, b) => when(v >= 0, call_function("shiftleft", lit(1L), b)).otherwise(0L)),
      lit(0L),
      (acc, x) => acc.bitwiseOR(x))
  }

  /** SimHash signatures computed the codegen-friendly way: tokens exploded
    * once, the token hash computed once per token, 64 per-bit vote sums in
    * one hash aggregate, signature folded from the votes with compile-time
    * shift constants. Semantically identical to [[simhash]] (kept as the
    * column-level API).
    *
    * Two token-hash modes:
    *  - `verifiable = true` (default): first 64 bits of md5 read as 16 hex
    *    digits — every engine can replay md5, so signatures are checkable
    *    against an independent implementation (the DuckDB oracle does);
    *  - `verifiable = false`: xxhash64 token bits — ~2× cheaper per token
    *    (the md5 mode costs ≈2× in the sf0.1 bench), same signature
    *    properties, for production corpora where cross-engine replay
    *    isn't needed. */
  private def simhashSigs(df: DataFrame, textCol: String, idCol: String,
                          verifiable: Boolean = true): DataFrame = {
    if (verifiable) {
      // one-pass native expression (the MinhashSignature treatment): no
      // token explode, no 16-digit projection, no 64 sum() aggregates —
      // parity with the row formulation is spec-asserted
      return df.select(col(idCol).as("id"),
          graft.functions.simhashSig(lower(trim(col(textCol)))).as("sig"))
        .where(col("sig").isNotNull)
    }
    val toksRaw = df.select(col(idCol).as("id"),
      posexplode(split(lower(trim(col(textCol))), "\\s+")))
      .where(length(col("col")) > 0)
    val votes = {
        val toks = toksRaw.select(col("id"), xxhash64(col("col")).as("h"))
        val voteCols = (0 until 64).map { b =>
          sum(call_function("shiftright", col("h"), lit(b)).bitwiseAND(lit(1)) * 2 - 1).as(s"v$b")
        }
        toks.groupBy("id").agg(voteCols.head, voteCols.tail: _*)
      }
    val sig = (0 until 64).map(b =>
      when(col(s"v$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, c) => a.bitwiseOR(c))
    votes.select(col("id"), sig.as("sig"))
  }

  /** Near-duplicate pairs by SimHash: band the 64-bit signature into four
    * 16-bit chunks (any exact chunk match → candidate, guaranteeing recall
    * for Hamming distance ≤ 3 within wrong-chunks), then verify
    * bit_count(xor) ≤ maxHamming. `verifiable = false` switches to the
    * xxhash64 production token hash (see [[simhashSigs]]). */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String, maxHamming: Int = 3,
                   verifiable: Boolean = true): DataFrame = {
    val sigs = simhashSigs(df, textCol, idCol, verifiable)
    val chunked = sigs.select(col("id"), col("sig"),
      explode(transform(sequence(lit(0), lit(3)),
        c => struct(c.as("chunk"), call_function("shiftright", col("sig"), c * 16).bitwiseAND(0xFFFFL).as("v")))).as("cc"))
      .select(col("id"), col("sig"), col("cc.chunk").as("chunk"), col("cc.v").as("v"))
    val l = chunked.select(col("chunk"), col("v"), col("id").as("idA"), col("sig").as("sigA"))
    val r = chunked.select(col("chunk"), col("v"), col("id").as("idB"), col("sig").as("sigB"))
    l.join(r, Seq("chunk", "v"))
      .where(col("idA") < col("idB"))
      .dropDuplicates("idA", "idB")
      .withColumn("hamming", call_function("bit_count", col("sigA").bitwiseXOR(col("sigB"))))
      .where(col("hamming") <= maxHamming)
      .select(col("idA"), col("idB"), col("hamming"))
  }

  // ----- embedding near-dup ----------------------------------------------

  /**
   * Near-duplicate pairs by embedding cosine ≥ threshold, via BANDED
   * random-hyperplane LSH (the sign-bucket analogue of [[minhashPairs]]'
   * OR-of-bands construction):
   *
   *  - `bands` independent bands, each hashing the vector's sign pattern
   *    under `rowsPerBand` deterministic ±1 (Rademacher) hyperplanes into
   *    one bucket key;
   *  - a pair collides if it shares a bucket in ANY band (OR semantics),
   *    so pair recall is 1 − (1 − p^r)^b with p = 1 − θ/π per plane.
   *    At cosine 0.99 (θ ≈ 0.14 rad, p ≈ 0.955) and the default 16×8 the
   *    miss probability is (1 − 0.955⁸)¹⁶ ≈ 3e-9 — recall-safe, unlike a
   *    single AND-of-planes bucket (recall ≈ 0.69 at the same cosine);
   *  - exact cosine verification on the candidate pairs only.
   *
   * Scale notes: the shuffle key is (band, bucket) with bands·2^r distinct
   * values; per-band-bucket membership is what must stay sub-quadratic,
   * so `rowsPerBand = 0` (the default) AUTO-SCALES r with the corpus —
   * r = ⌈log₂(n/4)⌉ clamped [8, 20], holding expected occupancy ~4 as n
   * grows (a FIXED r made candidate pairs grow quadratically: 10× the
   * embeddings measured 14× the wall in the round-9 sf1 spot bench).
   * `bands = 0` then derives b from the threshold's per-plane collision
   * probability to pin miss ≤ 1e-6 (clamped [8, 64]; at thresholds
   * ≲0.85 the cap binds — pass explicit geometry there). Auto mode pays
   * one bounded count; explicit (bands, rowsPerBand) skips it and is the
   * replayable-oracle regime. Vectors shuffle once into buckets; no
   * all-pairs product.
   */
  /** Deterministic ±1 Rademacher hyperplane matrix (planes × dim) from a
    * fixed LCG — precomputed driver-side so bucketing costs multiply-adds
    * only, never a per-element hash evaluation inside a lambda. */
  private[pipeline] def planeSignMatrix(planes: Int, dim: Int): Array[Array[Double]] = {
    var state = 0x9E3779B97F4A7C15L
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state }
    Array.fill(planes) { Array.fill(dim) { if (((next() >>> 32) & 1L) == 1L) 1.0 else -1.0 } }
  }

  def embeddingCosinePairs(
      df: DataFrame, vecCol: String, idCol: String,
      bands: Int = 0, rowsPerBand: Int = 0, threshold: Double = 0.95): DataFrame = {
    require(bands >= 0 && rowsPerBand >= 0, "bands/rowsPerBand must be >= 0 (0 = auto)")
    val v = col(vecCol)
    // dimensionality probed from the first row with a non-empty vector
    // (null vectors produce a null size and are skipped); empty input
    // short-circuits dim to 1 and yields zero candidates
    val dim = df.select(size(v).as("d")).where(col("d") > 0).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(1)

    // rows whose vector is null or differently-sized are excluded up
    // front — zip_with null-padding would otherwise send them all to
    // bucket 0, degenerating the bucket join to an all-pairs product
    val clean = df.where(size(v) === dim)

    // auto LSH geometry (see scaladoc): r holds ~4 rows per band-bucket,
    // b pins the OR-of-bands miss probability at ≤1e-6 for this threshold
    val autoRows =
      if (rowsPerBand > 0) rowsPerBand
      else {
        val n = math.max(1L, clean.count())
        math.max(8, math.min(20,
          math.ceil(math.log(n / 4.0) / math.log(2.0)).toInt))
      }
    val autoBands =
      if (bands > 0) bands
      else {
        val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
        val denom = math.log1p(-math.pow(p, autoRows))
        if (!(denom < 0.0)) 8 // p^r ~ 1: one band already catches everything
        else math.max(8, math.min(64, math.ceil(math.log(1e-6) / denom).toInt))
      }
    val planes = autoBands * autoRows
    val signs = planeSignMatrix(planes, dim)

    // Bucketing in the simhashSigs shape: the vector exploded ONCE, the
    // (pos → plane sign) matrix broadcast as a dim-row table, and all
    // plane dots computed in ONE codegen'd hash aggregate. The previous
    // formulation evaluated bands·rowsPerBand interpreted
    // aggregate(zip_with(vec, literal)) expressions per row — higher-order
    // functions don't codegen, costing ~22 ms/row and >1 MiB task
    // binaries. Identical planes, identical buckets, same candidates.
    val spark = df.sparkSession
    val planeSchema = StructType(StructField("pos", IntegerType, nullable = false) +:
      (0 until planes).map(p => StructField(s"sg$p", DoubleType, nullable = false)))
    val planeRows = (0 until dim).map { d =>
      org.apache.spark.sql.Row.fromSeq(d +: (0 until planes).map(p => signs(p)(d)))
    }
    val planesDf = spark.createDataFrame(
      spark.sparkContext.parallelize(planeRows, 1), planeSchema)

    val exploded = clean.select(col(idCol).as("id"), posexplode(v).as(Seq("pos", "x")))
    val dotCols = (0 until planes).map(p => sum(col("x") * col(s"sg$p")).as(s"dot$p"))
    val dots = exploded.join(broadcast(planesDf), Seq("pos"))
      .groupBy("id").agg(dotCols.head, dotCols.tail: _*)
    val bucketCols = (0 until autoBands).map { b =>
      val sig = (0 until autoRows).map { r =>
        when(col(s"dot${b * autoRows + r}") >= 0, lit(1L << r)).otherwise(lit(0L))
      }.reduce((a, c) => a.bitwiseOR(c))
      struct(lit(b).as("band"), sig.as("bucket"))
    }

    val vecs = clean.select(col(idCol).as("id"), v.as("vec"),
      graft.functions.vecNorm(v).as("nrm"))

    // candidate generation shuffles ONLY (band, bucket, id) — vectors are
    // joined back for the verification pass, never through the bucket join
    val banded = dots.select(col("id"), explode(array(bucketCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val l = banded.select(col("band"), col("bucket"), col("id").as("idA"))
    val r = banded.select(col("band"), col("bucket"), col("id").as("idB"))
    val candidates = l.join(r, Seq("band", "bucket"))
      .where(col("idA") < col("idB"))
      .select(col("idA"), col("idB"))
      .distinct()

    candidates
      .join(vecs.select(col("id").as("idA"), col("vec").as("vA"), col("nrm").as("nA")), Seq("idA"))
      .join(vecs.select(col("id").as("idB"), col("vec").as("vB"), col("nrm").as("nB")), Seq("idB"))
      .withColumn("cosine",
        graft.functions.vecDot(col("vA"), col("vB")) / (col("nA") * col("nB")))
      .where(col("cosine") >= threshold)
      .select(col("idA"), col("idB"), round(col("cosine"), 6).as("cosine"))
  }

  /**
   * SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
   * arXiv:2303.09540): k-means-cluster the embedding space, then find
   * near-duplicate pairs by exact cosine WITHIN each cluster only — the
   * cluster bound is what makes the quadratic verify tractable (per-
   * cluster cost (n/k)²; `k = 0`, the default, AUTO-SCALES k ≈ √n via
   * [[Similarity.autoBuckets]] so total pair work grows ~n^1.5 at EVERY
   * corpus size — flat trained k-means up to ~16.7M vectors, two-level
   * coarse-k-means + sign-plane refinement beyond, so no flat-cap
   * quadratic at billion-vector scale — pass an explicit k for
   * replayable-oracle or known-scale regimes; vs
   * [[embeddingCosinePairs]], which band-hashes for near-exact duplicates,
   * this catches semantically-close rewrites at lower thresholds where
   * hyperplane LSH would need impractically many bands).
   *
   * Returns a TOTAL map (id, canonical) over every input row with a
   * usable vector: canonical = smallest id in the row's within-cluster
   * cosine-component ([[nearDupClusters]]), or the row itself when it has
   * no semantic duplicate. Compaction keeps rows where id == canonical.
   * Deterministic end to end ([[Similarity.trainCentroids]] seeds from
   * the k smallest ids). Null/empty/zero-norm vectors are excluded (they
   * have no cosine direction).
   *
   * Scale shape: training is the sampled-k-means cost; assignment is one
   * broadcast pass; pair generation shuffles vectors ONCE on cluster id;
   * clustering of the (tiny) pair list is adaptive union-find /
   * star-contraction. The assignment frame feeds both join sides, so it
   * is materialized eagerly (minhashPairs' checkpoint pattern) and
   * nothing stays pinned after the call.
   */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    k: Int = 0, iters: Int = 5, threshold: Double = 0.9): DataFrame = {
    require(k >= 0, s"k must be >= 0 (0 = auto): $k")
    val clean = df
      .select(col(idCol).as("id"), transform(col(vecCol), _.cast(DoubleType)).as("vec"))
      .where(col("vec").isNotNull && size(col("vec")) > 0)
      .withColumn("nrm", graft.functions.vecNorm(col("vec")))
      .where(col("nrm") > 0)
    val assigned = (if (k == 0) Similarity.autoBuckets(clean, iters)
      else {
        val cents = Similarity.trainCentroids(clean, "id", "vec", k, iters)
        Similarity.assignClusters(clean, "id", "vec", cents, "cid", "cvec")
          .select(col("cid"), col("id"), col("vec"), col("nrm"))
      })
      .localCheckpoint(true)
    val l = assigned.select(col("cid"), col("id").as("idA"),
      col("vec").as("vA"), col("nrm").as("nA"))
    val r = assigned.select(col("cid"), col("id").as("idB"),
      col("vec").as("vB"), col("nrm").as("nB"))
    val pairs = l.join(r, Seq("cid"))
      .where(col("idA") < col("idB"))
      .where(graft.functions.vecDot(col("vA"), col("vB")) / (col("nA") * col("nB"))
        >= lit(threshold))
      .select(col("idA"), col("idB"))
    val clusters = nearDupClusters(pairs)
    assigned.select(col("id"))
      .join(clusters, Seq("id"), "left")
      .select(col("id"), coalesce(col("canonical"), col("id")).as("canonical"))
  }

  /**
   * One-call near-duplicate corpus COMPACTION — the operation a training
   * pipeline actually runs: [[minhashPairs]] → [[nearDupClusters]] →
   * anti-join, keeping every document that is its cluster's canonical
   * (smallest id) plus every document in no near-dup pair at all. The
   * pair list and cluster map are tiny relative to the corpus, so the
   * only full-corpus costs are the minhash scan and one broadcast-sized
   * anti-join against the loser set.
   */
  def compact(df: DataFrame, textCol: String, idCol: String,
              shingleSize: Int = 5, numHashes: Int = 64, bands: Int = 16,
              threshold: Double = 0.8): DataFrame = {
    val pairs = minhashPairs(df, textCol, idCol, shingleSize, numHashes, bands, threshold)
    val clusters = nearDupClusters(pairs)
    val losers = clusters.where(col("id") =!= col("canonical"))
      .select(col("id").as("__loser"))
    df.join(losers, col(idCol) === col("__loser"), "left_anti")
  }

  /**
   * Corpus compaction keeping the BEST member of each near-dup cluster —
   * the selection policy real training pipelines use (keep the longest /
   * highest-scoring copy, drop the rest) instead of [[compact]]'s
   * smallest-id canonical. The representative is argmax(score), ties to
   * the smaller id; the score is the house integer token count of
   * `textCol` (an exact, engine-replayable ranking — no float ordering).
   * Documents in no near-dup pair survive untouched.
   *
   * Shape at scale: pairs and clusters are near-dup-sized by
   * construction; the winner pick is one window over clusters; the full
   * corpus is touched only by the final left_anti join on id.
   */
  def compactBest(df: DataFrame, textCol: String, idCol: String,
                  shingleSize: Int = 5, numHashes: Int = 64, bands: Int = 16,
                  threshold: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = minhashPairs(df, textCol, idCol, shingleSize, numHashes, bands, threshold)
    val clusters = nearDupClusters(pairs)
    val scored = clusters.join(
      df.select(col(idCol).as("id"), TextAnalysis.tokenCount(textCol).as("__score")),
      Seq("id"))
    val w = Window.partitionBy("canonical")
      .orderBy(col("__score").desc, col("id"))
    val losers = scored.withColumn("__rk", row_number().over(w))
      .where(col("__rk") > 1)
      .select(col("id").as("__loser"))
    df.join(losers, col(idCol) === col("__loser"), "left_anti")
  }

  // ----- near-dup clustering ------------------------------------------------

  /**
   * Connected components over a near-duplicate PAIR list (the output of
   * [[minhashPairs]] / [[simhashPairs]] / [[ngramJaccardPairs]] /
   * [[embeddingCosinePairs]]): returns (id, canonical) for every document
   * appearing in some pair, where canonical is the smallest id in the
   * component — a corpus compaction keeps exactly the rows with
   * canonical == id (plus every document in no pair at all).
   *
   * The pair list goes to the shared connected-components engine,
   * [[GraphAlgorithms.pairComponents]]: a single-task union-find up to
   * 10M pairs (the pair graph is small relative to the corpus by
   * construction), large-star/small-star contraction beyond. `maxRounds`
   * bounds the contraction; non-convergence throws.
   */
  def nearDupClusters(pairs: DataFrame, idA: String = "idA", idB: String = "idB",
                      maxRounds: Int = 50): DataFrame =
    GraphAlgorithms.pairComponents(pairs.select(col(idA).as("a"), col(idB).as("b")), maxRounds)
}
