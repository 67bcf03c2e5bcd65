package graft.operators

import graft.functions.Text
import graft.functions.native.Native
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines: exact,
  * blocked n-gram Jaccard, MinHash-LSH, SimHash. Designed scale-first:
  * every stage is a groupBy/join on a bounded key — no all-pairs
  * cross product ever materializes at full scale.
  */
object Dedup {

  /** Exact dedup by content fingerprint (hash-groupBy). Keeps the lowest
    * `idCol` per fingerprint group; emits group size for audit. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("fingerprint", Text.fingerprint(col(textCol)))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact near-duplicate pairs by word-n-gram Jaccard within a blocking
    * key: every id1 < id2 pair inside a block is a candidate (quadratic in
    * block size — the block key must keep blocks small, e.g. a content
    * prefix or an LSH band, NOT a coarse partition like crawl/domain);
    * each pair's similarity is |A∩B| / (|A|+|B|-|A∩B|) via array_intersect
    * on the per-doc shingle sets. For unbounded blocks use
    * minHashLshPairs, whose banding bounds candidates by signature
    * collision instead. Returns pairs with jaccard >= threshold.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      n: Int, threshold: Double): DataFrame = {
    // Build each doc's shingle SET once, behind an exchange (repartition on
    // block) so the self-join reuses it instead of re-evaluating the
    // tokenize+shingle expression tree per side. Pairs join on the block
    // key only — with bounded blocks this is the candidate generator — and
    // the intersection is computed set-at-a-time with array_intersect
    // (no per-shingle row explosion).
    val sets = df.select(col(blockCol).as("block"), col(idCol).as("id"),
        array_distinct(Text.wordShingles(col(textCol), n)).as("sh"))
      .where(size(col("sh")) > 0)
      .repartition(col("block"))
    val a = sets.as("a"); val b = sets.as("b")
    val inter = size(array_intersect(col("a.sh"), col("b.sh")))
    a.join(b, col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        inter.cast("double").as("inter"),
        size(col("a.sh")).as("size1"), size(col("b.sh")).as("size2"))
      .withColumn("jaccard", col("inter") / (col("size1") + col("size2") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Prefix-filtered exact Jaccard similarity JOIN over token sets — the
    * PPJoin-family candidate generator (Xiao et al., WWW'08 / string
    * similarity joins, ICDE'22): the principled corpus-wide scale path
    * that blocked-quadratic pairing can't give.
    *
    * LOSSLESS for J(A,B) >= t: order every doc's distinct tokens by
    * global rarity (document frequency asc, token asc — the SAME total
    * order everywhere), take each doc's prefix of
    * p = |s| - ceil(t * |s|) + 1 tokens, and generate candidates as an
    * equi-join on prefix tokens. If J(A,B) >= t then |A∩B| >= t*max|A|,|B|
    * so fewer than p tokens of either set can be outside the
    * intersection — the two prefixes must overlap. Rare-first ordering
    * makes prefixes land on RARE tokens, so hot-token candidate blowup —
    * the reason naive token-join doesn't scale — never happens; the
    * length filter |B| >= ceil(t * |A|) prunes the rest before any
    * intersection is computed.
    *
    * No global rank is materialized: each shingle carries its df count
    * and prefix membership is a rarity rank over a KEYED window —
    * nothing single-partition at any corpus size. Verification is
    * set-at-a-time array_intersect.
    * Sets are word n-gram shingles (n >= 2 keeps sets discriminative on
    * small vocabularies — unigram sets over a closed vocabulary saturate
    * toward J = 1 regardless of content). Returns (id1, id2, jaccard)
    * with jaccard >= t, id1 < id2.
    */
  def prefixJaccardJoin(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    // the set arrays used for VERIFICATION need no frequency ordering
    // (intersection size is order-free), so they come from a map-only
    // projection — recomputing this per reference is scan work, not a
    // join; only the PREFIX derivation touches document frequencies
    // materialized once (eager localCheckpoint, the components-operator
    // pattern): the frame is read three times (prefix derivation + both
    // sides of the pair fetch) and regex shingling is the dominant CPU —
    // recomputing it per reference tripled the query cost, and relying
    // on ReuseExchange would couple the plan to optimizer internals
    val docs = df.select(col(idCol).as("id"),
        array_distinct(Text.wordShingles(col(textCol), n)).as("set"))
      .where(size(col("set")) > 0)
      .withColumn("sz", size(col("set")))
      .localCheckpoint(true)
    // shingles travel the frequency/prefix shuffles as fixed 8-byte
    // hashes (the q98 shuffle-width trade; ~40-byte 5-gram strings
    // otherwise); the global prefix order is (df, hash, shingle) — the
    // shingle tie-break keeps the order total under hash collisions so
    // every doc slices the identical prefix in both engines
    val toks = docs
      .select(col("id"), col("sz"), explode(col("set")).as("tok"))
      .withColumn("h", Text.md5Hash64(col("tok"), 0))
    val dfreq = toks.groupBy("h").agg(count(lit(1)).as("c"))
    val prefixLen = (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int")
    // prefix membership = rarity rank <= p via a KEYED window — no
    // per-doc collect/sort/slice, and the dfreq join happens ONCE.
    // Candidate generation ships ONLY (id, sz, ptok) — never the set
    // arrays: a prefix of p tokens would otherwise duplicate the full
    // set p times through the join shuffle (quadratic bytes in set
    // size). The surviving candidate PAIRS (a small fraction of the
    // corpus) fetch their two sets in one join back against docs.
    val pre = toks.join(dfreq, "h")
      .withColumn("r", row_number().over(
        Window.partitionBy("id").orderBy(col("c"), col("h"), col("tok"))))
      .where(col("r") <= prefixLen)
      .select(col("id"), col("sz"), col("h").as("ptok"))
    val a = pre.select(col("id").as("id1"), col("sz").as("z1"), col("ptok"))
    val b = pre.select(col("id").as("id2"), col("sz").as("z2"), col("ptok"))
    val pairs = a.join(b, Seq("ptok"))
      .where(col("id1") < col("id2") &&
        // length filter: J >= t forces t*|A| <= |B| (and symmetric)
        col("z2") >= ceil(lit(threshold) * col("z1")) &&
        col("z1") >= ceil(lit(threshold) * col("z2")))
      .select(col("id1"), col("id2"), col("z1"), col("z2"))
      .dropDuplicates("id1", "id2")
    val inter = size(array_intersect(col("s1"), col("s2")))
    pairs
      .join(docs.select(col("id").as("id1"), col("set").as("s1")), Seq("id1"))
      .join(docs.select(col("id").as("id2"), col("set").as("s2")), Seq("id2"))
      .withColumn("inter", inter.cast("double"))
      .withColumn("jaccard",
        col("inter") / (col("z1") + col("z2") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Directed set-containment join (Broder 1997's containment measure —
    * the asymmetric cousin of [[prefixJaccardJoin]]): pairs (a, b),
    * a ≠ b, with C(a→b) = |Sa∩Sb| / |Sa| >= t — near-superset /
    * quotation detection that Jaccard structurally misses (a 100-token
    * doc quoted verbatim inside a 10 000-token doc reads J ≈ 0.01 but
    * C = 1.0).
    *
    * LOSSLESS for C >= t: fewer than p = |Sa| − ceil(t·|Sa|) + 1 of a's
    * rare-first-ordered tokens can lie outside Sb, so a's p-prefix must
    * hit SOME token of b — candidates are a-prefix × b-ALL-tokens.
    * Scale rests on the same pillar as the Jaccard prefix join: prefixes
    * land on LOW-df keys, so each prefix token meets only its few
    * carrier documents; the b side never derives a prefix (containment
    * is one-sided) and pays only the size filter |Sb| >= ceil(t·|Sa|)
    * pre-verification. Shares docs/shingle/df machinery — one
    * checkpointed shingle pass, 8-byte keys through every shuffle.
    *
    * Returns directed (id1, id2, containment): id1's set is >= t inside
    * id2's.
    */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
                      n: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    val docs = df.select(col(idCol).as("id"),
        array_distinct(Text.wordShingles(col(textCol), n)).as("set"))
      .where(size(col("set")) > 0)
      .withColumn("sz", size(col("set")))
      .localCheckpoint(true)
    val toks = docs
      .select(col("id"), col("sz"), explode(col("set")).as("tok"))
      .withColumn("h", Text.md5Hash64(col("tok"), 0))
    val dfreq = toks.groupBy("h").agg(count(lit(1)).as("c"))
    val prefixLen = (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int")
    val pre = toks.join(dfreq, "h")
      .withColumn("r", row_number().over(
        Window.partitionBy("id").orderBy(col("c"), col("h"), col("tok"))))
      .where(col("r") <= prefixLen)
      .select(col("id").as("id1"), col("sz").as("z1"), col("h").as("ptok"))
    val all = toks.select(col("id").as("id2"), col("sz").as("z2"),
      col("h").as("ptok"))
    val pairs = pre.join(all, Seq("ptok"))
      .where(col("id1") =!= col("id2") &&
        // |Sa∩Sb| <= |Sb|, so C >= t forces |Sb| >= ceil(t*|Sa|)
        col("z2") >= ceil(lit(threshold) * col("z1")))
      .select(col("id1"), col("id2"), col("z1"))
      .dropDuplicates("id1", "id2")
    pairs
      .join(docs.select(col("id").as("id1"), col("set").as("s1")), Seq("id1"))
      .join(docs.select(col("id").as("id2"), col("set").as("s2")), Seq("id2"))
      .withColumn("containment",
        size(array_intersect(col("s1"), col("s2"))).cast("double") / col("z1"))
      .where(col("containment") >= threshold)
      .select(col("id1"), col("id2"),
        round(col("containment"), 6).as("containment"))
  }

  /** Mersenne prime 2^31-1: universal-hash modulus. One md5 per shingle;
    * the k hash functions are (a_i * h + b_i) mod P — standard MinHash
    * practice (32x fewer md5 evaluations than hashing per seed).
    */
  private val P = 2147483647L

  /** Deterministic (a, b) coefficients for the universal hash family.
    * Exposed within graft so the DuckDB oracle SQL can inline the same
    * coefficients. */
  private[graft] def hashCoeffs(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numHashes)((rnd.nextInt(Int.MaxValue - 2).toLong * 2 + 1,
      rnd.nextInt(Int.MaxValue - 1).toLong))
  }

  /** MinHash signatures as a (id, minhash: array<bigint>) DataFrame,
    * built via explode -> groupBy so the result sits behind a shuffle
    * exchange: a self-join on it REUSES the exchange instead of
    * recomputing every md5 on both sides (this was a 30x wall-clock
    * difference vs the pure-expression form).
    */
  def minHashSignatures(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      numHashes: Int): DataFrame = {
    val coeffs = hashCoeffs(numHashes)
    val sh = df.select(col(idCol).as("id"),
        explode(array_distinct(Text.wordShingles(col(textCol), n))).as("shingle"))
      .withColumn("h0", pmod(Text.md5Hash64(col("shingle"), 0), lit(P)))
    // k min-aggregates over one row per shingle — NOT a posexplode into
    // k rows per shingle (k x the shuffle volume; measured 2x wall-clock).
    // Map-side partial aggregation reduces each partition to one row per
    // (doc, k mins) before the exchange.
    val minAggs = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h0") * a + b, lit(P))).as(s"m$i")
    }
    sh.groupBy("id")
      .agg(minAggs.head, minAggs.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("minhash"))
  }

  /** MinHash-LSH candidate pairs: band the signature (`numBands` bands of
    * rows), bucket-join on (band, band-hash), verify candidates with the
    * full signature similarity estimate. Standard banding: two docs
    * collide in >= 1 band w.h.p. iff their Jaccard exceeds
    * (1/b)^(1/r). Returns pairs with estimated Jaccard (fraction of
    * matching signature positions) >= threshold.
    */
  def minHashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 32, numBands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % numBands == 0, "numHashes must divide into bands")
    val rows = numHashes / numBands
    val signed = minHashSignatures(df, idCol, textCol, n, numHashes)
      .where(size(col("minhash")) === numHashes)
    // one row per (doc, band); bucket key = the band slice itself (as a
    // string) — exact banding semantics (a murmur-hashed key would admit
    // collision pairs) and engine-portable for the SQL oracle. At 100 TB
    // wrap it in xxhash64 to fix the shuffle-key width; the ~1e-10
    // per-pair collision odds are then absorbed by the est_jaccard verify.
    val banded = signed.select(col("id"), col("minhash"),
        explode(sequence(lit(0), lit(numBands - 1))).as("band"))
      .withColumn("bucket",
        concat_ws(",", slice(col("minhash"), col("band") * rows + 1, lit(rows))))
    val a = banded.as("a"); val b = banded.as("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.minhash").as("m1"), col("b.minhash").as("m2"))
      .dropDuplicates("id1", "id2")
    cand.withColumn("est_jaccard",
        size(filter(zip_with(col("m1"), col("m2"), (x, y) => x === y), b => b))
          .cast("double") / numHashes)
      .where(col("est_jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("est_jaccard"))
  }

  /** SimHash-64: per token, md5-derived 64-bit hash; sum +1/-1 per bit
    * position weighted by token frequency; sign -> bit. Expressed with
    * explode + groupBy over (doc, bit contributions) — fully distributed.
    * Near-dups = pairs within `maxHamming` on a banded join of the
    * 4x16-bit chunks (pigeonhole: hamming<=3 implies an exact match in
    * >=1 of 4 chunks).
    */
  def withSimHash(df: DataFrame, idCol: String, textCol: String,
                  out: String = "simhash"): DataFrame = {
    // one row per token, one 64-counter aggregate per document — NOT a
    // 64-way bit explode (64x the rows and a 320k-group shuffle; measured
    // ~5x slower). Map-side partial aggregation collapses each doc's
    // tokens before the shuffle.
    val toks = df.select(col(idCol).as("id"), explode(Text.tokens(col(textCol))).as("tok"))
      .withColumn("h", Text.md5Hash64(col("tok"), 0))
    // the helper key gets a reserved name: joining on "id" then drop("id")
    // would also drop the caller's column when idCol == "id"
    val bits = toks.groupBy("id")
      .agg(Native.simHash(col("h")).as(out))
      .select(col("id").as("__simhash_id"), col(out))
    df.join(bits, df(idCol) === col("__simhash_id"), "left")
      .drop("__simhash_id")
  }

  /** SimHash near-dup pairs via 16-bit chunk banding + hamming verify. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hamming64Pairs(withSimHash(df, idCol, textCol)
      .select(col(idCol).as("id"), col("simhash").as("hash")), maxHamming)

  /** 16-bit chunk banding + hamming verify over ANY 64-bit signature
    * frame (id, hash) — the candidate generator shared by SimHash text
    * dedup ([[simHashPairs]]) and perceptual image dedup
    * ([[graft.multimodal.Binary.aHashPairs]]). Pigeonhole-COMPLETE for
    * maxHamming <= 3 (a pair within 3 bits must agree exactly on one of
    * the 4 chunks); above that it is a high-recall approximate
    * generator (collisions on any chunk), never all-pairs — candidate
    * volume is bounded by signature collisions, the property that
    * survives 100 TB. */
  def hamming64Pairs(hashed: DataFrame, maxHamming: Int): DataFrame = {
    val chunked = hashed.select(col("id"), col("hash"),
        explode(sequence(lit(0), lit(3))).as("chunk"))
      .withColumn("key",
        expr("shiftright(hash, chunk * 16)").bitwiseAND(0xFFFFL))
    val a = chunked.as("a"); val b = chunked.as("b")
    val cand = a.join(b,
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.hash").as("h1"), col("b.hash").as("h2"))
      .dropDuplicates("id1", "id2")
    cand.withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .where(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** Edit-distance-verified near-dup pairs — the precision tier on top of
    * [[simHashPairs]]: band-bounded candidates, then an exact Levenshtein
    * verify over normalized text prefixes. SimHash banding answers
    * "plausibly similar" from 8 bytes per doc; teams that gate corpus
    * drops on it alone ship false positives whenever two unrelated docs
    * happen to share bit patterns (701 candidates vs 24 true near-dups on
    * the synthetic corpus — a 29:1 precision gap). The verify closes it
    * with character-level ground truth while staying scale-shaped:
    *
    *  - candidates come ONLY from the 16-bit chunk band join (never
    *    all-pairs), so the quadratic verify runs on a set bounded by
    *    signature collisions;
    *  - the verify reads `prefixLen`-char prefixes of the normalized
    *    text (lower + whitespace-collapse — the same normalization the
    *    signature hashed), capping the DP at O(prefixLen²) per pair
    *    independent of document length;
    *  - Spark's 3-arg `levenshtein(l, r, threshold)` runs the BANDED
    *    DP — O(threshold·prefixLen) not O(prefixLen²) — and returns −1
    *    above the bound, which the filter drops; within the bound the
    *    value equals the unbounded distance, so the cheap form is
    *    output-identical to the full DP and an SQL oracle replays it
    *    with a plain levenshtein().
    *
    * Returns (id1, id2, hamming, edit_dist) for verified pairs with
    * edit_dist <= maxEdits. Pairs whose normalized text is empty on
    * either side verify like any other (empty-vs-short = its length).
    */
  def editVerifiedNearDup(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 6, prefixLen: Int = 256,
                          maxEdits: Int = 40): DataFrame = {
    val cand = simHashPairs(df, idCol, textCol, maxHamming)
    val pfx = df.select(col(idCol).as("id"),
      substring(Text.normalize(col(textCol)), 1, prefixLen).as("p"))
    cand
      .join(pfx.select(col("id").as("id1"), col("p").as("p1")), "id1")
      .join(pfx.select(col("id").as("id2"), col("p").as("p2")), "id2")
      .withColumn("edit_dist", levenshtein(col("p1"), col("p2"), maxEdits))
      .where(col("edit_dist") >= 0)
      .select(col("id1"), col("id2"), col("hamming"), col("edit_dist"))
  }

  /** Incremental dedup of a NEW batch against an existing reference
    * corpus — the daily-crawl pattern: never re-cluster the corpus, just
    * answer "which new docs duplicate something we already have".
    *
    * Two tiers, both equi-joins (the corpus side is never re-clustered
    * or self-joined):
    *  - exact: md5-of-normalized-text fingerprint, left join against the
    *    corpus's DISTINCT fingerprint set (partial-agg'd; at 100 TB this
    *    is the classic hash-lookup shape and the corpus fingerprints are
    *    a fraction of corpus bytes);
    *  - near: SimHash 16-bit chunk banding, new x corpus band join only
    *    (no new x new, no corpus x corpus), hamming-verified. By the
    *    pigeonhole bound any pair within `maxHamming` <= 3 per 4 chunks
    *    shares a chunk, so banding loses nothing at the default radius.
    *
    * `isNew` partitions df. Returns one row per new doc:
    * (idCol, is_exact_dup, n_near_dups, min_hamming — null if no near
    * match). Near-dup counts EXCLUDE exact-identical corpus docs? No:
    * an exact dup is also hamming-0, so it appears in both tiers — the
    * tiers answer different questions (identity vs radius) and the
    * caller drops on either.
    */
  def incrementalNearDup(df: DataFrame, idCol: String, textCol: String,
                         isNew: org.apache.spark.sql.Column,
                         maxHamming: Int = 3): DataFrame = {
    val hashed = withSimHash(df, idCol, textCol)
      .select(col(idCol).as("id"), isNew.as("is_new"),
        Text.fingerprint(col(textCol)).as("fp"), col("simhash"))
    incrementalNearDupAgainst(
      hashed.where(col("is_new")).drop("is_new"),
      hashed.where(!col("is_new")).select(col("id"), col("fp"), col("simhash")),
      idCol, maxHamming)
  }

  /** The corpus side of incremental dedup as a PERSISTABLE product:
    * (fp, simhash) per corpus doc. Run once per batch-dedup cadence and
    * write to parquet — the daily incremental pass then joins against
    * this table instead of re-tokenizing and re-hashing the corpus
    * (which at corpus scale would make "incremental" cost a full pass). */
  def corpusSignatures(df: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    withSimHash(df, idCol, textCol)
      .select(col(idCol).as("id"),
        Text.fingerprint(col(textCol)).as("fp"), col("simhash"))

  /** Incremental dedup of pre-signed new docs against a pre-signed
    * corpus: `newDocs` = (id, fp, simhash), `corpusSigs` =
    * (id, fp, simhash) — [[corpusSignatures]]'s persisted output. See [[incrementalNearDup]]
    * for tier semantics. */
  def incrementalNearDupAgainst(newDocs: DataFrame, corpusSigs: DataFrame,
                                idCol: String,
                                maxHamming: Int = 3): DataFrame = {
    val corpus = corpusSigs
    val corpusFps = corpus.select(col("fp")).distinct()
      .withColumn("__hit", lit(1))
    def chunked(d: DataFrame, idAs: String, hAs: String): DataFrame =
      d.select(col("id").as(idAs), col("simhash").as(hAs),
          explode(sequence(lit(0), lit(3))).as("chunk"))
        .withColumn("key",
          expr(s"shiftright($hAs, chunk * 16)").bitwiseAND(lit(0xFFFFL)))
    val near = chunked(newDocs, "nid", "nh")
      .join(chunked(corpus, "cid", "ch"),
        Seq("chunk", "key"))
      .select(col("nid"), col("cid"),
        bit_count(col("nh").bitwiseXOR(col("ch"))).as("hamming"))
      .dropDuplicates("nid", "cid")
      .where(col("hamming") <= maxHamming)
      .groupBy("nid")
      .agg(count(lit(1)).as("n_near_dups"), min("hamming").as("min_hamming"))
    newDocs
      .join(corpusFps, Seq("fp"), "left")
      .join(near, col("id") === col("nid"), "left")
      .select(col("id").as(idCol),
        (col("__hit").isNotNull).as("is_exact_dup"),
        coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"),
        col("min_hamming"))
  }

  /** Embedding cosine near-duplicate pairs, LSH-bucketed by random
    * hyperplane signs (deterministic planes from md5 of dimension index).
    * See Similarity.cosine for the exact-verify expression.
    */
  def embeddingNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 8, dims: Int = 64): DataFrame = {
    // norms and buckets are per-vector: compute them BELOW the self-join
    // (inline in the join output they would re-reduce the array once per
    // candidate pair)
    val s = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket",
        Similarity.hyperplaneSketch(col("v"), planes, dims))
      .withColumn("nrm", Similarity.norm(col("v")))
    val a = s.as("a"); val b = s.as("b")
    val nn = col("a.nrm") * col("b.nrm")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cos",
        when(nn > 0, Similarity.dot(col("a.v"), col("b.v")) / nn))
      .where(col("cos") >= threshold)
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        round(col("cos"), 6).as("cos"))
  }

  /** Connected components over near-dup pairs -> canonical document per
    * component (min id reachable). This is the step that turns pairwise
    * similarity into dedup DECISIONS: every doc in a component keeps the
    * component's minimum id as its canonical representative.
    *
    * Distributed min-label propagation, run as message-passing rounds
    * ([[Fixpoint.Scope.messages]]): the pairs are read ONCE into an
    * undirected adjacency hash-partitioned by id — the upstream candidate
    * pipeline (minhash + banding, the expensive part) is evaluated once,
    * not once per direction — and each round is one job in which every
    * node sends its label to its neighbors, a `reduceByKey` keeps each
    * node's minimum (Spark's ordering of the id type), and the same job
    * sums the labels as decimal(38,0). Min-propagation strictly
    * DECREASES that total until the fixed point, so an unchanged total
    * stops. The first round turns the identity labels into
    * min(self, neighbors). Converges in O(component diameter) rounds,
    * NOT graph size. Near-dup components are shallow (planted dups
    * cluster around an original), so the round count stays small at any
    * scale; for adversarial long-chain graphs use
    * [[connectedComponentsStar]]. A null id never sends its label (the
    * relational join on it never matched) but still receives.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    Fixpoint.run("connectedComponents", pairs, None) { s =>
    val g = s.adjacency(pairs, "id1", "id2") { (a, b) =>
      Iterator((a, Some(b)), (b, Some(a)))
    }
    val init = g.entries.mapPartitions(_.map { case (id, _) => InternalRow(id, id) })
    val toDecimal = Cast(BoundReference(0, g.keyType, nullable = true),
      DecimalType(38, 0))
    val nullable = pairs.schema("id1").nullable || pairs.schema("id2").nullable
    val schema = StructType(Seq(StructField("id", g.keyType, nullable),
      StructField("component", g.keyType)))
    // an empty edge set sums to null — the trivially-converged empty
    // result, not a state to iterate on
    var prevSum: java.math.BigDecimal = null
    val (labels, _, _, converged) = s.messages(g, init, null: java.math.BigDecimal,
        maxIter + 1, new MinLabelKernel(g.keyType, toDecimal), schema) { (total, i) =>
      val done = g.nodes == 0 || (i > 0 &&
        (total == null || (i > 1 && total.compareTo(prevSum) == 0)))
      prevSum = total
      done
    }
    // a silent exit at maxIter would hand back partially-propagated (wrong)
    // canonical ids for components deeper than the iteration budget
    require(converged,
      s"connectedComponents did not converge within $maxIter iterations; " +
        "component diameter exceeds the budget — raise maxIter or use " +
        "connectedComponentsStar for long-chain graphs")
    labels
    }

  /** State row (id, component); a message is a neighbour's label, the
    * census the label total as decimal(38,0) (null when every label is). */
  private final class MinLabelKernel(dt: DataType, toDecimal: Cast)
      extends Fixpoint.Kernel[Any, java.math.BigDecimal] {
    private val ord = PhysicalDataType.ordering(dt)
    private def least(a: Any, b: Any): Any =
      if (a == null) b else if (b == null || ord.lteq(a, b)) a else b
    def send(id: Any, nbrs: Array[Any], st: InternalRow, c: java.math.BigDecimal) =
      if (id == null) Iterator.empty
      else {
        val lab = st.get(1, dt)
        nbrs.iterator.map(d => (d, lab))
      }
    def merge(a: Any, b: Any): Any = least(a, b)
    def update(id: Any, nbrs: Array[Any], st: InternalRow, in: Any,
               c: java.math.BigDecimal): InternalRow =
      InternalRow(id, least(st.get(1, dt), in))
    def census(rows: Iterator[InternalRow]): java.math.BigDecimal = {
      val one = new GenericInternalRow(1)
      rows.foldLeft(null: java.math.BigDecimal) { (sum, r) =>
        one.update(0, r.get(1, dt))
        toDecimal.eval(one) match {
          case null => sum
          case d: Decimal => if (sum == null) d.toJavaBigDecimal else sum.add(d.toJavaBigDecimal)
        }
      }
    }
    def combine(a: java.math.BigDecimal, b: java.math.BigDecimal): java.math.BigDecimal =
      if (a == null) b else if (b == null) a else a.add(b)
  }

  /** Connected components by alternating star contraction (the
    * large-star/small-star method of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): converges in
    * O(log n) ROUNDS REGARDLESS OF COMPONENT DIAMETER, vs the
    * O(diameter) rounds of min-label propagation above. Use this for
    * graphs that are not dedup-shaped (chains, lattices, adversarial
    * structure); for shallow near-dup clusters plain propagation does
    * fewer shuffles per round and wins.
    *
    * Each round is two relational passes over the edge list:
    *  - large-star: per node u, link every neighbor v > u to
    *    m = min(N(u) ∪ u) — halves the depth of tall branches;
    *  - small-star: per node u, link every neighbor v <= u (and u) to m —
    *    flattens what large-star left.
    * The fixed point is a forest of stars rooted at each component's
    * minimum id; output = (id, component) including the roots.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 30): DataFrame =
    Fixpoint.run("connectedComponentsStar", pairs, None) { s =>
    // canonical undirected edge set as parent links child -> parent
    // (child > parent); self-loops drop
    // each round's operators reference the edge frame SEVERAL times
    // (symmetrize, per-node minima, relink), so without lineage
    // truncation the logical plan grows ~4x per round and analysis OOMs
    // around round 7 — a cut materializes the round AND cuts the plan
    // back to a leaf (cache alone only shortcuts execution)
    val init = pairs
      .select(greatest(col("id1"), col("id2")).as("u"),
        least(col("id1"), col("id2")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum((col("u") * 31 + col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    def largeStar(e: DataFrame): DataFrame = {
      // symmetric neighborhood; m = min over (neighbors ∪ self)
      val sym = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      sym.join(m, "u")
        .where(col("v") > col("u")) // strictly larger neighbors re-link to m
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // e is child->parent (u > v) after largeStar; per child u link all
      // its parents AND itself to the minimum parent
      val m = e.groupBy("u").agg(min(col("v")).as("m"))
      val relinked = e.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
      val self = m.select(col("u"), col("m").as("v"))
      relinked.unionByName(self)
        .where(col("u") =!= col("v"))
        .distinct()
    }
    // an empty edge set is its own fixed point
    var prev: (Long, java.math.BigDecimal) = null
    val (edges, _, converged) = s.until(init, maxIter)(
        (e, _) => smallStar(largeStar(e))) { (e, i) =>
      val total = checksum(e)
      val done = total._1 == 0 || (i > 0 && total == prev)
      prev = total
      done
    }
    require(converged,
      s"connectedComponentsStar did not converge within $maxIter rounds")
    // stars: u -> root v; roots appear as their own component
    val members = edges.select(col("u").as("id"), col("v").as("component"))
    val roots = edges.select(col("v").as("id")).distinct()
      .withColumn("component", col("id"))
    members.unionByName(roots)
      .groupBy("id").agg(min("component").as("component"))
    }

  /** Incremental connected components — fold a batch of NEW edges into
    * an existing canonical labeling WITHOUT re-clustering the corpus
    * (the daily-crawl companion to [[incrementalNearDup]]: that bounds
    * candidate GENERATION to new×corpus; this bounds the component
    * UPDATE to the touched subgraph).
    *
    * `labels` must be a canonical min-id labeling, i.e. exactly what
    * [[connectedComponents]] / [[connectedComponentsStar]] emit:
    * component = min node id of the component. Every label is then a
    * member of its own component, so the label table is a valid
    * CONTRACTION of the old graph — components of
    * (old graph ∪ newPairs) equal components of
    * (label stars ∪ newPairs), and only labels touched by a new edge
    * can change.
    *
    * Three changeset-bounded steps, none of which reads the old EDGE
    * set (at 100 TB the old pairs are long gone — only the label table
    * persists): (1) look up the component of each new-edge endpoint
    * (one hash join against labels; unseen nodes label themselves);
    * (2) contract the new edges into label space and run
    * [[connectedComponents]] on that graph — its size is bounded by
    * the CHANGESET, not the corpus; (3) broadcast the resulting
    * old-label → new-root mapping and relabel the big table map-side
    * (plus emit rows for the brand-new nodes). Roots stay global min
    * ids throughout — step 2's minima range over old labels (each the
    * min id of its old component) and new node ids — so the output is
    * bit-identical to a full recompute over the union graph
    * ([[graft.Queries.q193IncrementalComponents]] ships the full
    * recompute's oracle verbatim; ComponentsSpec pins union-find
    * parity). */
  def incrementalComponents(labels: DataFrame, newPairs: DataFrame,
                            maxIter: Int = 20): DataFrame = {
    val l = labels.select(col("id"), col("component"))
    // endpoint → current component; nodes the labeling has never seen
    // label themselves (changeset-bounded frame, read three times)
    val ends = newPairs.select(col("id1").as("id"))
      .unionByName(newPairs.select(col("id2").as("id"))).distinct()
    val endLabels = ends.join(l, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      .localCheckpoint(true)
    // the changeset in label space; an edge inside one old component
    // contracts to a self-loop and drops
    val contracted = newPairs
      .join(endLabels.select(col("id").as("id1"), col("component").as("ca")),
        "id1")
      .join(endLabels.select(col("id").as("id2"), col("component").as("cb")),
        "id2")
      .select(col("ca").as("id1"), col("cb").as("id2"))
      .where(col("id1") =!= col("id2"))
    // old-label → new-root. The contracted graph is changeset-scale, so
    // the inner CC is cheap no matter how big the labeled corpus is.
    val mapping = connectedComponents(contracted, maxIter)
      .select(col("id").as("component"), col("component").as("root"))
    // map-side relabel: mapping is changeset-bounded -> broadcast; the
    // corpus-scale label table is touched exactly once, no shuffle
    val relabeled = l
      .join(broadcast(mapping), Seq("component"), "left")
      .select(col("id"), coalesce(col("root"), col("component")).as("component"))
    // brand-new nodes: endpoints the old labeling lacked; their
    // self-label resolves through the same mapping (a new node merged
    // into anything appears in the contracted graph under its own id)
    val newNodes = endLabels.join(l, Seq("id"), "left_anti")
      .join(broadcast(mapping), Seq("component"), "left")
      .select(col("id"), coalesce(col("root"), col("component")).as("component"))
    relabeled.unionByName(newNodes)
  }

  /** TF-IDF weighted cosine similarity over candidate pairs (Salton &
    * Buckley 1988 weighting; the rare-token blocking of Bayardo et al.
    * 2007's all-pairs family) — the WEIGHTED counterpart to
    * [[prefixJaccardJoin]]'s set similarity: near-dups that share
    * distinctive vocabulary score high even when boilerplate differs.
    *
    * Candidate generation is an equi-join on tokens with document
    * frequency in [2, dfMax] — each such token contributes at most
    * C(dfMax, 2) pairs, so the join output is bounded per key at any
    * corpus size (common tokens never become join keys). The full
    * TF-IDF cosine is then computed for candidates only, over their
    * COMPLETE vectors (blocking decides who gets compared, not what
    * the score sees).
    *
    * Cross-engine determinism: idf = round(ln((N+1)/(df+1)) + 1, 9) as
    * decimal(18,9); weights tf*idf with explicit decimal(9,0) x
    * decimal(18,9) casts so the product is exact INSIDE both engines'
    * 38-digit budget (an uncast long x decimal would overflow Spark's
    * inferred precision and round); dot products and squared norms are
    * exact decimal sums; the only floating math is the final
    * sqrt/divide, IEEE-identical on identical inputs.
    *
    * Terms are word n-gram shingles WITH multiplicity, not unigrams: a
    * closed small vocabulary (or any boilerplate-heavy corpus) makes
    * every single word common, while n-gram phrases keep a long rare
    * tail — which is exactly what both the idf weighting and the
    * rare-term blocking need to have any discriminating power.
    *
    * Returns (id_a, id_b, cos) for all candidate pairs — callers rank
    * and cut. */
  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, dfMax: Int): DataFrame = {
    require(dfMax >= 2, "dfMax must be at least 2")
    val tf = df.select(col(idCol).as("id"),
        explode(Text.wordShingles(col(textCol), n)).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    // materialized once: read by the idf derivation, the norm pass and
    // both sides of the pair fetch (the prefixJaccardJoin discipline)
    val tfCk = tf.localCheckpoint(true)
    val dfreq = tfCk.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(countDistinct(col(idCol)).as("n_docs"))
      .withColumn("__k", Guards.constKey(col("n_docs")))
    val idf = dfreq
      .withColumn("__k", Guards.constKey(col("tok")))
      .join(broadcast(nDocs), "__k")
      .select(col("tok"), col("df"),
        round(log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0)))
          + lit(1.0), 9).cast("decimal(18,9)").as("idf"))
    val w = tfCk.join(idf, "tok")
      .select(col("id"), col("tok"), col("df"),
        (col("tf").cast("decimal(9,0)") * col("idf"))
          .cast("decimal(18,9)").as("w"))
      .localCheckpoint(true)
    val norms = w.groupBy("id")
      .agg(sum(col("w") * col("w")).as("sn"))
    // rare-token candidate pairs: bounded fan-out per join key
    val rare = w.where(col("df").between(2, dfMax))
      .select(col("id"), col("tok"))
    val cand = rare.select(col("id").as("a"), col("tok"))
      .join(rare.select(col("id").as("b"), col("tok")), Seq("tok"))
      .where(col("a") < col("b"))
      .select("a", "b").dropDuplicates("a", "b")
    val dots = cand
      .join(w.select(col("id").as("a"), col("tok"), col("w").as("wa")),
        Seq("a"))
      .join(w.select(col("id").as("b"), col("tok"), col("w").as("wb")),
        Seq("b", "tok"))
      .groupBy("a", "b")
      .agg(sum(col("wa") * col("wb")).as("dot"))
    dots
      .join(norms.select(col("id").as("a"), col("sn").as("sna")), Seq("a"))
      .join(norms.select(col("id").as("b"), col("sn").as("snb")), Seq("b"))
      .select(col("a").as("id_a"), col("b").as("id_b"),
        (col("dot").cast("double") /
          (sqrt(col("sna").cast("double")) * sqrt(col("snb").cast("double"))))
          .as("cos"))
  }
}
