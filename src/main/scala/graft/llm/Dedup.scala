package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.Text._

/** Document deduplication operators over the `documents` table — the four
  * standard tiers of a training-data pipeline: exact (hash), exhaustive
  * n-gram Jaccard (inverted index), MinHash+LSH (banded), and SimHash
  * (bit-sampled). All are pure DataFrame compositions of codegen'd
  * expressions with bit-exact DuckDB oracles.
  *
  * 100 TB design notes:
  *  - Exact dedup is a hash shuffle on a 16-byte digest — embarrassingly
  *    scalable; group sizes are bounded by true duplicate multiplicity.
  *  - The n-gram inverted-index join scales with Σ shingle-frequency² —
  *    exact but quadratic in hot shingles. At 100 TB you'd add prefix
  *    filtering (keep each doc's rarest-k shingles) before the self-join;
  *    the LSH path below is the sub-quadratic workhorse.
  *  - MinHash-LSH: cost is (docs × perms) hashing + a self-join on (band,
  *    key) buckets. Bucket sizes concentrate near true near-dup groups, so
  *    the join output is ~linear in the number of real pairs. Never
  *    all-pairs. Exact-Jaccard verification touches candidates only.
  *  - SimHash banding (4 chunks of 15 bits) is pigeonhole-exact for
  *    hamming ≤ 3: any qualifying pair collides on ≥1 chunk, so banding
  *    introduces NO false negatives (unlike probabilistic MinHash bands).
  */
object Dedup {

  val ShingleK = 3
  val MinhashPerms = 64
  val Bands = 16
  val RowsPerBand = 4 // Bands * RowsPerBand == MinhashPerms

  /** Universal-hash family for MinHash: h_i(x) = (a_i·x + b_i) mod P over a
    * 30-bit base hash (products stay < 2^61 — no overflow in either
    * engine). One md5 per shingle + 64 affine maps replaces 64 md5s per
    * shingle: the textbook construction, and ~40× less hashing work at
    * 100 TB. Constants are host-generated and inlined into BOTH dialects. */
  val MinhashP = 2147483647L // 2^31 - 1
  val BaseHashMod = 1L << 30
  lazy val minhashSeeds: IndexedSeq[(Long, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until MinhashPerms).map { i =>
      val d = md.digest(s"mh|$i".getBytes("UTF-8"))
      val v1 = new java.math.BigInteger(1, d.take(8)).longValue() & Long.MaxValue
      val v2 = new java.math.BigInteger(1, d.drop(8)).longValue() & Long.MaxValue
      (v1 % (MinhashP - 1) + 1, v2 % MinhashP)
    }
  }
  val JaccardThreshold = 0.5

  /** Gate for broadcasting the n-gram df relation in [[ngramJaccard]]:
    * broadcast only while the distinct-shingle upper bound (Σ per-doc set
    * sizes) stays under this. ~60 B per in-memory df row (shingle string +
    * count) keeps 1M rows ≈ 60 MB, inside a 64 MB broadcast budget. */
  val NgramDfBroadcastMaxShingles = 1000000L
  val SimhashBits = 60 // 15 hex chars of md5
  val SimhashChunks = 4 // pigeonhole: hamming <= chunks-1 guaranteed caught
  val HammingThreshold = 3

  /** The corpus ships as one small parquet file → one input split → one
    * task; hash-heavy per-row work (64 md5s per shingle) would run on a
    * single core. Re-spread to full parallelism up front — the local
    * analogue of sizing `spark.sql.files.maxPartitionBytes` at 100 TB. */
  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      // range by doc_id, not round-robin (r20, guide §2.4): same one
      // exchange, but per-doc groupBys and doc-ordered finishes inherit
      // the partitioning instead of paying their own (see TextAnalysis)
      .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))

  /** Exact dedup: group by content digest, keep the smallest doc_id as
    * canonical. Emits every content group (n_copies=1 for uniques) so the
    * operator is verifiable even on corpora without exact duplicates. */
  def exact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("canonical_id"))

  /** Edit-distance near-dup blocking: candidates must share their first
    * [[EditPrefixChars]] characters — the prefix-blocking family of
    * record-linkage (a near-identical revision of a document keeps its
    * opening). The block rule is mirrored verbatim in the oracle, so the
    * gate certifies the gated distance arithmetic bit-for-bit. */
  val EditPrefixChars = 32

  /** Qualifying threshold: pairs at Levenshtein ≤ this are near-dups. */
  val EditMaxDist = 40L

  /** EDIT-DISTANCE near-duplicate pairs (the character-level tier under
    * the set-based Jaccard/MinHash/SimHash family): prefix-blocked
    * candidates gated at `levenshtein(a, b) ≤` [[EditMaxDist]] — the
    * fuzzy-dedup shape for templated/boilerplate revisions where a
    * shingle set is too coarse (a k-char edit flips up to k shingles but
    * costs exactly k here).
    *
    * Candidate generation never touches the pair space: the self-join
    * key is the 32-char prefix (blocks concentrate on true revision
    * groups), and the LENGTH gate |len_a − len_b| ≤ t is EXACT pruning —
    * Levenshtein is bounded below by the length difference, so no
    * qualifying pair is lost and the O(len²) distance evaluates only on
    * survivors. 100 TB: one prefix-keyed exchange; within-block cost is
    * quadratic in block size, the published trade of blocking methods
    * (a skewed boilerplate prefix would be salted or length-sub-bucketed
    * — the length gate already sub-buckets implicitly). The distance is
    * Spark's codegen'd `levenshtein`; DuckDB's agrees codepoint-for-
    * codepoint on this corpus, which the hash gate certifies. */
  def editDistance(s: SparkSession, dir: String): DataFrame =
    editDistanceOf(docs(s, dir))

  /** [[editDistance]] over any (doc_id, text) relation. */
  private[llm] def editDistanceOf(d: DataFrame): DataFrame = {
    val base = d
      .select(col("doc_id"), col("text"),
        substring(col("text"), 1, EditPrefixChars).as("pfx"),
        length(col("text")).as("len"))
    def side(t: String) = base.select(col("pfx"),
      col("doc_id").as(s"doc_$t"), col("text").as(s"text_$t"),
      col("len").as(s"len_$t"))
    side("a").join(side("b"), Seq("pfx"))
      .where(col("doc_a") < col("doc_b") &&
        abs(col("len_a") - col("len_b")) <= EditMaxDist)
      .withColumn("edit_dist",
        levenshtein(col("text_a"), col("text_b")).cast(LongType))
      .where(col("edit_dist") <= EditMaxDist)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Exact n-gram Jaccard near-dup pairs with PREFIX FILTERING (the
    * AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08).
    *
    * A naive inverted-index self-join costs Σ df² over every shingle —
    * quadratic in hot shingles (round-2 bench: 15.8s, 27% of the whole
    * suite, and the term only grows with corpus size). Prefix filtering is
    * the exact fix: order each doc's shingles by a GLOBAL total order
    * (document frequency ascending, rarest first), and keep only the first
    * `n - ceil(t·n) + 1` as its prefix. Any pair with Jaccard ≥ t MUST
    * share a prefix shingle under the shared order (pigeonhole: two sets
    * whose prefixes are disjoint can overlap on at most ceil(t·n)-1 of
    * each side's tail — too few to reach t), so joining on prefix shingles
    * only has NO false negatives; candidates are then verified with exact
    * Jaccard over the full shingle sets. Hot shingles sort to the suffix
    * and never enter the join — the df² term is confined to rare shingles
    * where df is small.
    *
    * 100 TB: shuffle keys are the shingle (df count, candidate join) and
    * the doc (prefix ranking) — never the pair space. Output is identical
    * to the exhaustive formulation (the oracle still runs that one).
    *
    * r7 profile (sf0.1 min-of-5 warm): cached index
    * read 0.08s, df rollup 0.45s, prefix rank 0.55s, candidate self-join
    * + distinct 1.27s, verify 0.65s → entry 1.92s. The dominant term is
    * the candidate join itself — CPU-dense inequality evaluation over
    * prefix-bucket pairs (125k candidates from 134k prefix entries),
    * which IS PPJoin's irreducible work; no stage above it exceeds 0.6s,
    * so the remaining gap to the single-process oracle is fixed per-stage
    * scheduling, not a wrong plan. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = JaccardThreshold
    val sets = shingleSets(s, dir)
    val ex = sets.select(col("doc_id"), col("n"), explode(col("sset")).as("sh"))
    // df via a groupBy joined back onto the exploded relation: the df
    // aggregate map-side-combines to distinct-shingle size. The join-back
    // strategy is SIZE-GATED (r6 VERDICT: the old unconditional broadcast
    // assumed a closed vocabulary): Σn over the persisted per-doc sets is
    // an exact, one-cheap-job upper bound on the distinct-shingle count —
    // under the gate the df relation broadcasts (the corpus-scale token
    // rows are never shuffled at all, and the doc-partitioned cache
    // already satisfies the prefix-ranking window's clustering, so the
    // only exchanges left in candidate generation are prefix-by-shingle
    // for the self-join); over it (open-vocabulary text at scale, where
    // distinct shingles grow ~linearly with the corpus) the join-back
    // falls back to a plain shuffled join on sh, whose extra exchange is
    // token-keyed — still never pair space. rarest-first global order; sh
    // as tiebreaker keeps the order total. rn (the shingle's position in
    // the doc's full ordered set) rides along for the positional filter
    // below.
    val dfreq = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val dfreqSized =
      if (totalShingles(s, dir) <= NgramDfBroadcastMaxShingles)
        broadcast(dfreq)
      else dfreq
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
    val prefix = ex
      .join(dfreqSized, "sh")
      .withColumn("rn", row_number().over(byRarity))
      .where(col("rn") <= col("n") - ceil(col("n") * lit(t)) + 1)
      .select(col("doc_id"), col("n"), col("rn"), col("sh"))
      // Pin the self-join's shuffle width. The prefix relation is slim in
      // BYTES but the join over it is CPU-dense, so AQE's partition
      // coalescing (which only sees bytes) merges its shuffle onto 1-2
      // cores in any default-config session — measured at sf0.1: 7.5s/run
      // warm with coalescing on vs 1.9s with it off. An explicit-width
      // repartition by the join key is exempt from AQE coalescing and
      // already satisfies the join's required distribution, so with AQE
      // off the plan is unchanged (same single exchange per side).
      .repartition(s.sparkContext.defaultParallelism, col("sh"))
    // Candidate join with PPJoin's two further EXACT filters fused in:
    //  - length: J ≥ t forces t·na ≤ nb ≤ na/t;
    //  - positional: for the FIRST shared shingle in the global order, every
    //    other shared shingle follows it in both lists, so the true overlap
    //    is ≤ 1 + min(na-rn_a, nb-rn_b); prune when that bound can't reach
    //    the overlap threshold α = ceil(t/(1+t)·(na+nb)). A qualifying pair
    //    always survives via its first shared prefix shingle.
    val alpha = ceil((col("a.n") + col("b.n")) * lit(t / (1 + t)))
    val cand = prefix.as("a")
      .join(prefix.as("b").hint("shuffle_hash"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n") >= ceil(col("a.n") * lit(t)) &&
          col("b.n") <= floor(col("a.n") / lit(t)) &&
          lit(1) + least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn")) >= alpha)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      // Same AQE-coalescing hazard as above, measured 4× on this stage at
      // sf0.1: candidate pairs are ~16 bytes each but each drives an
      // array_intersect over two full shingle sets in the verify join.
      // Pin the verify clustering at explicit width (replaces the exchange
      // the doc_a join needs anyway — no extra shuffle with AQE off).
      .repartition(s.sparkContext.defaultParallelism, col("doc_a"))
    cand
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      // intersect_count == size(array_intersect) (IntersectCountSpec) but
      // allocation-free: the verify leg runs once per candidate pair over
      // two full shingle sets — the hot inner loop of the entry (r20, §4)
      .withColumn("inter", org.apache.spark.sql.graft.functions
        .intersect_count(col("sa.sset"), col("sb.sset")).cast(IntegerType))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast(DoubleType) /
          (col("sa.n") + col("sb.n") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= JaccardThreshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Containment threshold as an exact RATIONAL τ = 4/5 — the prefix
    * length and the qualifying compare both run in integer arithmetic
    * (ceil(0.8·n) through doubles rounds the n≡0 (mod 5) boundary the
    * wrong way: 0.8·5 = 4.000000000000000222 in IEEE, ceil 5 ≠ 4). */
  val ContainmentNum = 4L
  val ContainmentDen = 5L

  /** CONTAINMENT near-dup detection (Broder 1997's containment
    * C(A,B) = |S(A)∩S(B)| / |S(A)|, next to the resemblance the X2–X4
    * family thresholds): catches the pair RESEMBLANCE structurally
    * misses — a small document (a quote, an excerpt, a boilerplate
    * block) living almost entirely INSIDE a bigger one keeps
    * |A∩B| ≈ |A| while the union is dominated by |B|, so Jaccard stays
    * far below its threshold. Directional: doc_a is the CONTAINED side;
    * each qualifying pair reports both metrics plus the
    * `resemblance_missed` flag (true exactly when the X2 threshold
    * would have let the pair through).
    *
    * Candidate generation is the containment form of the prefix filter
    * (exact, no false negatives): if C(A,B) ≥ τ then B misses at most
    * (1−τ)·|A| of A's shingles, so A's first
    * |A| − ceil(τ·|A|) + 1 shingles in the global rarest-first order
    * must hit B — only the CONTAINED side prefixes; the containing side
    * indexes all its shingles (prefixing B would assume B's rare
    * shingles overlap A's, which containment does not promise).
    *
    * 100 TB: shuffle keys are the shingle (candidate join — the
    * contained-side prefix bounds the A side; common-shingle fan-out on
    * the B side is the price of the asymmetric guarantee and stays
    * shingle-keyed, never pair-space) and the doc (verify); both sides
    * ride the persisted shingle-set cache. */
  def containment(s: SparkSession, dir: String): DataFrame =
    containmentOf(shingleSets(s, dir), s.sparkContext.defaultParallelism,
      Some(totalShingles(s, dir)))

  /** [[containment]] over any (doc_id, n, sset) shingle-set relation —
    * unit-test hook (ContainmentSpec plants an excerpt-inside-article
    * pair that resemblance misses). `knownTotal` is the session-cached
    * Σn scalar on the production path (r16 VERDICT nit #1 — the sizing
    * job used to rerun per entry execution); absent, it's derived here. */
  private[graft] def containmentOf(sets: DataFrame, width: Int,
      knownTotal: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = sets.select(col("doc_id"), col("n"), explode(col("sset")).as("sh"))
    val dfreq = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val total = knownTotal.getOrElse(
      sets.agg(sum(col("n"))).head().getLong(0))
    val dfreqSized =
      if (total <= NgramDfBroadcastMaxShingles) broadcast(dfreq)
      else dfreq
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
    // required overlap = ceil(τ·n) in EXACT integers: (num·n + den−1) DIV
    // den — long `div`, not `/` (which is IEEE double division and only
    // floor-exact while num·n stays well under 2^53), so the prefix
    // length is integer-exact by construction at any corpus size
    val reqOverlap = expr(s"($ContainmentNum * n + ${ContainmentDen - 1}) " +
      s"div $ContainmentDen")
    val prefixA = ex
      .join(dfreqSized, "sh")
      .withColumn("rn", row_number().over(byRarity))
      .where(col("rn") <= col("n") - reqOverlap + lit(1L))
      .select(col("doc_id"), col("n"), col("sh"))
      .repartition(width, col("sh"))
      // prefixA feeds TWO consumers (the candidate join's A side and the
      // pv vocabulary broadcast below), and the asymmetric B side blocks
      // the exchange reuse the symmetric ngramJaccard self-join gets —
      // the r20 before-plan shows the whole explode+df-join+rank-window
      // subtree twice. Materialize the prefix index once (r20, the
      // qskResult discipline; materializing the prefix index is standard
      // AllPairs/PPJoin practice — it is ~(1−τ)·Σn rows of slim keys).
      //
      // STORAGE DECISION at 100 TB (r21, r20 VERDICT "What's wrong" #3):
      // unlike the 5-row/K-row checkpoints this relation is CORPUS-scale,
      // and localCheckpoint is non-reliable — it cuts lineage, so losing
      // an executor mid-query fails the query instead of recomputing the
      // lost blocks. That trade is taken DELIBERATELY: (1) the blocks
      // are MEMORY_AND_DISK_DESER on the executors that produced them —
      // no replication cost, no shuffle; (2) the whole containment query
      // is one bounded batch job, so the blast radius of an executor
      // loss is a query retry, not lost state (contrast a multi-hour
      // pipeline, where `persist(DISK_ONLY)` + its CacheManager entry or
      // a reliable checkpoint to the cluster FS would be worth the extra
      // write); (3) persist() here would register the plan in the
      // CacheManager and serve LATER bench invocations from cache —
      // cross-run result caching, which the bench forbids. A PPJoin at
      // 100 TB would write the prefix index to the warehouse as a real
      // table (the published practice) — that is a pipeline-architecture
      // choice, not a per-query storage level.
      .localCheckpoint()
    // two further EXACT prunes on the containing side (locally
    // cost-neutral — sf0.1 min 2.4 s vs the 1.2 s brute oracle, a 1.9x
    // job-floor-dominated ratio either way — but the right shape where
    // it matters: at corpus scale hot-shingle df grows with the corpus
    // and the unpruned B-side fan-out with it): (1) B only needs
    // shingles that
    // occur in SOME contained-side prefix — hot shingles sort to the
    // suffixes and drop out of the B index entirely unless a small doc
    // prefixes them (semi-join on the prefix vocabulary, lossless by
    // construction); (2) the size filter — containment at tau needs
    // |B| >= ceil(tau·|A|) shared elements, so a B smaller than that can
    // never qualify.
    val pv = prefixA.select(col("sh")).distinct()
    val full = ex.select(col("doc_id"), col("n"), col("sh"))
      .join(pv, Seq("sh"), "left_semi")
      .repartition(width, col("sh"))
    val reqA = expr(s"($ContainmentNum * a.n + ${ContainmentDen - 1}) " +
      s"div $ContainmentDen")
    val cand = prefixA.as("a")
      .join(full.as("b").hint("shuffle_hash"),
        col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id") &&
          col("b.n") >= reqA)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .repartition(width, col("doc_a"))
    cand
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("inter", org.apache.spark.sql.graft.functions
        .intersect_count(col("sa.sset"), col("sb.sset")))
      // qualifying compare in exact integers: inter·den ≥ num·n_a
      .where(col("inter") * lit(ContainmentDen) >=
        lit(ContainmentNum) * col("sa.n"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast(DoubleType) / col("sa.n")).as("containment"),
        (col("inter").cast(DoubleType) /
          (col("sa.n") + col("sb.n") - col("inter"))).as("jaccard"))
      .withColumn("resemblance_missed", col("jaccard") < lit(JaccardThreshold))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** MinHash+LSH near-dup pairs: band the signature (16 bands × 4 rows),
    * bucket-join on (band, key), then verify candidates with exact Jaccard.
    * Output = verified pairs ≥ threshold. */
  /** The per-doc shingle-set relation is the near-dup operators' shared
    * working set — it feeds band-join legs AND verification legs (several
    * occurrences inside one plan). Persist it once (bounded: one row per
    * doc with its distinct shingles) and memoize per (session, dir) so
    * repeated invocations (Bench runs each query 1 warm + 3 timed times)
    * reuse one cached copy instead of stacking persisted relations
    * (round-2 ADVICE: the leak distorted later timings under memory
    * pressure). A DataFrame is bound to its session, so a fresh session
    * re-resolves. */
  private val setsCache = new graft.SessionMemo[DataFrame]

  private[graft] def shingleSets(s: SparkSession, dir: String): DataFrame =
    setsCache.getOrElseUpdate(s, dir)(
      docs(s, dir).select(col("doc_id"),
        shingles(col("text"), ShingleK).as("sset"))
        .where(size(col("sset")) >= 1)
        .withColumn("n", size(col("sset")))
        // partition the persisted index by doc_id at build time (the
        // shingle map work runs on the round-robin-spread scan FIRST, then
        // one slim build-time shuffle): every doc-keyed consumer — the
        // prefix-ranking window, minhash's per-doc signature aggregation,
        // the verification joins — then reads its required clustering
        // straight from the cache, shuffle-free. EXPLICIT width: a
        // width-less repartition(col) is fair game for AQE partition
        // coalescing, and shingle arrays are small in bytes but every
        // consumer is CPU-dense — a cache persisted at 1-2 partitions
        // serializes all of them for the session's lifetime.
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .persist())

  /** Σn over the persisted shingle sets — the broadcast-gate scalar for
    * the PPJoin and containment paths, computed ONCE per (session, dir)
    * (r16 VERDICT nit #1: the one-row sizing job used to rerun on every
    * entry execution; the bound is a static property of the corpus). */
  private val shingleTotalCache = new graft.SessionMemo[java.lang.Long]

  private[llm] def totalShingles(s: SparkSession, dir: String): Long =
    shingleTotalCache.getOrElseUpdate(s, dir)(
      Long.box(shingleSets(s, dir).agg(sum(col("n"))).head().getLong(0)))

  /** (doc_id, band, bkey) banding relation from any (doc_id, sset)
    * shingle-set relation — purely per-row (signature fold + band-key
    * posexplode), no shuffle and no state, so it serves the batch LSH
    * join AND the streaming census ([[graft.streaming.NearDupStream]])
    * from one definition. */
  private[graft] def bandsFromSets(sets: DataFrame): DataFrame = {
    def h(i: Int): Column = {
      val (a, b) = minhashSeeds(i)
      array_min(transform(col("hrs"),
        hr => pmod(lit(a) * hr + lit(b), lit(MinhashP))))
    }
    val sig = sets
      .withColumn("hrs",
        transform(col("sset"), x => pmod(hash64(x), lit(BaseHashMod))))
      .select(col("doc_id") +:
        (0 until MinhashPerms).map(i => h(i).as(s"m$i")): _*)
    val bandKeys = (0 until Bands).map { b =>
      concat_ws(",",
        (0 until RowsPerBand).map(r =>
          col(s"m${b * RowsPerBand + r}").cast(StringType)): _*)
    }
    sig.select(col("doc_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
  }

  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    val sets = shingleSets(s, dir)
    val bands = bandsFromSets(sets)
    val cand = bands.as("a")
      .join(bands.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    // Exact verification over candidates only (arrays are per-doc shingle
    // sets; candidate count ~ true near-dup count, so this join is cheap).
    cand
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("inter", org.apache.spark.sql.graft.functions
        .intersect_count(col("sa.sset"), col("sb.sset")).cast(IntegerType))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast(DoubleType) /
          (col("sa.n") + col("sb.n") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= JaccardThreshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** BANDING-RECALL certification (r15 — the [[Similarity.annRecall]]
    * discipline applied to the dedup family): per TRUE near-dup pair
    * (the exhaustive PPJoin truth, [[ngramJaccard]]), did MinHash-LSH
    * banding surface it? Banding has a published miss rate
    * (P(collide) = 1 − (1 − J^r)^b — ≈ 0.64 at J = 0.5 under the 16×4
    * budget), and recall is the number a dedup deployment actually
    * tunes r×b against; the per-pair grain also names WHICH pairs the
    * bands missed. Precision is 1 structurally (LSH candidates are
    * exact-verified at the same threshold over the same shingle sets),
    * which the shared-truth join certifies implicitly.
    *
    * 100 TB: both inputs are the near-dup-population-sized pair
    * relations the entries already produce; the eval join is
    * broadcast-trivial. */
  /** The exhaustive PPJoin truth as a committed cross-session artifact
    * (surfaced cold as `build_ngram_truth` in [[Builds]]). */
  private[llm] def ngramTruth(s: SparkSession, dir: String): DataFrame =
    graft.IndexStore.readOrBuild(s, dir, "ngram_truth",
      s"v1;t=$JaccardThreshold;n=$ShingleK")(ngramJaccard(s, dir))

  def lshRecall(s: SparkSession, dir: String): DataFrame = {
    // r16: the exhaustive PPJoin truth is exactly the kind of expensive
    // derived artifact the IndexStore exists for (the eval-tiers
    // precedent) — stored once per (corpus, shingle/threshold config),
    // read back in ~a broadcast-join floor on every later run. The
    // oracle re-derives the truth from scratch, so a stale store fails
    // the gate loudly; the banding side stays LIVE so the entry still
    // measures the real LSH pipeline it certifies.
    val truth = ngramTruth(s, dir)
    val found = minhashLsh(s, dir)
      .select(col("doc_a").as("fa"), col("doc_b").as("fb"))
    truth.join(broadcast(found),
        col("doc_a") === col("fa") && col("doc_b") === col("fb"), "left")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("fa").isNotNull.as("found_by_lsh"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Per-doc 60-bit SimHash over shingle features: bit b is the sign of
    * Σ_features (±1 by feature-hash bit b). */
  def simhashSignatures(s: SparkSession, dir: String): DataFrame =
    simhashOf(shingleSets(s, dir))

  /** Per-doc SimHash signature IN-ROW (r20, guide §1.2/§4): one native
    * kernel call per doc over the persisted shingle-set cache — the
    * signature is a row-local quantity, so the old explode +
    * 60-conditional-sum HashAggregate (60 shift/mask/compare expression
    * trees per shingle ROW, ~190× row explosion) shuffled and
    * aggregated to compute what one tight loop per doc produces. Plan:
    * Generate + 2 HashAggregate → 1 Project; the cache (already built
    * for the X2-X4 near-dup family) replaces the per-entry re-shingling
    * scan. The `size >= 1` guard in the cache preserves the relational
    * no-group rule for sub-width docs. SimhashKernelSpec pins this form
    * equal to [[simhashSignaturesRelational]] on corpus data. */
  private[llm] def simhashOf(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"),
      org.apache.spark.sql.graft.functions
        .simhash_of_set(col("sset"), SimhashBits).as("simhash"))

  /** The pre-r20 relational twin (explode + 60-bit-sum aggregate) —
    * kept as the independent formulation SimhashKernelSpec pins the
    * kernel against. */
  private[llm] def simhashSignaturesRelational(d: DataFrame): DataFrame = {
    val h = d.select(col("doc_id"),
        explode(shingles(col("text"), ShingleK)).as("sh"))
      .select(col("doc_id"), hash64(col("sh")).as("h"))
    val bitSums = h.groupBy(col("doc_id")).agg(
      sum(when(shiftright(col("h"), 0).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as("s0"),
      (1 until SimhashBits).map(b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
          .otherwise(-1)).as(s"s$b")): _*)
    bitSums.select(col("doc_id"),
      (0 until SimhashBits)
        .map(b => when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs at hamming ≤ 3 via 4×15-bit chunk banding
    * (pigeonhole-exact, no false negatives) + bit_count(xor) filter. */
  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val sim = simhashSignatures(s, dir)
    val chunkBits = SimhashBits / SimhashChunks
    val mask = (1L << chunkBits) - 1
    val chunks = sim.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until SimhashChunks).map(c =>
        shiftright(col("simhash"), c * chunkBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("chunk", "cval")))
    val cand = chunks.as("a")
      .join(chunks.as("b").hint("shuffle_hash"),
        col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("a.simhash").as("sim_a"),
        col("b.doc_id").as("doc_b"), col("b.simhash").as("sim_b"))
      .distinct()
    cand
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast(LongType).as("hamming"))
      .where(col("hamming") <= HammingThreshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Safety cap on [[clustersOf]] label-propagation rounds. Convergence
    * needs ≤ diameter(near-dup graph) rounds; near-dup components are
    * groups of mutually-similar docs (diameter 1-3 in practice), so 25 is
    * far past any plausible real corpus. Hitting the cap throws rather
    * than silently emitting a half-propagated clustering. */
  val ClusterMaxRounds = 25

  /** The verified near-dup pair graph (exact Jaccard ≥ t pairs from
    * [[ngramJaccard]]), persisted once per (session, dir) — the same
    * derived-index discipline as [[shingleSets]]: the pair graph is built
    * once and consumed by downstream graph work ([[clusters]]), while the
    * pair-producing ENTRY keeps re-running its full pipeline unaided so the
    * bench measures real work. */
  private val pairsCache = new graft.SessionMemo[DataFrame]

  private[llm] def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    pairsCache.getOrElseUpdate(s, dir) {
      ngramJaccard(s, dir).select(col("doc_a"), col("doc_b")).persist()
    }

  /** Near-duplicate CLUSTERING — the step a dedup pipeline needs after
    * pair generation: connected components over the verified near-dup
    * pair graph, labeling every clustered doc with the min doc_id of its
    * component (the canonical survivor) plus the component size and a
    * keep/drop verdict. Pair-level dedup alone under-deletes: near-dup
    * similarity is not transitive, so A~B, B~C without A~C must still
    * collapse to ONE kept doc, which only the component view gives you.
    *
    * Algorithm: min-label propagation to fixpoint — labels start as each
    * doc's own id; every round each doc takes the min of its label and
    * its neighbors' labels; converged when no label changed. Rounds =
    * O(graph diameter). The driver-side loop is control flow only (the
    * per-round `isEmpty` inspects a 1-job scalar, the GraphX-style
    * iterative idiom — never row data); all data movement is vertex-keyed
    * joins. At 100 TB: edges hash-partition by vertex, rounds stay
    * O(diameter) — the published alternative for adversarial diameters is
    * large-star/small-star (Kiveris et al., "Connected Components in
    * MapReduce"), same join shape per round. */
  def clusters(s: SparkSession, dir: String): DataFrame =
    clustersOf(verifiedPairs(s, dir))

  /** [[clusters]] over any (doc_a, doc_b) pair relation — unit-testable
    * form. */
  /** [[clusters]] through the ALTERNATING two-star algorithm instead of
    * min-label propagation — same fixpoint (every doc labeled with its
    * component's min id; identical output schema and oracle), different
    * round structure: large-star/small-star rewrites (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") contract components
    * in O(log diameter)-ish rounds rather than O(diameter), which is the
    * published fallback [[clusters]]' Scaladoc cites for adversarially
    * deep graphs (a propagation chain of length d pays d rounds; two-star
    * collapses it exponentially). Near-dup graphs are usually
    * clique-shaped — where propagation's single round wins — so BOTH
    * forms ship: the operator choice is a diameter bet, and the judge of
    * that bet is the round counter each form logs. */
  def clustersTwoStar(s: SparkSession, dir: String): DataFrame =
    clustersTwoStarOf(verifiedPairs(s, dir))

  /** [[clustersTwoStar]] over any (doc_a, doc_b) pair relation —
    * unit-testable form.
    *
    * Loop invariants: the edge set is kept CANONICAL (u > v, no self
    * loops, distinct) between rounds — both star rewrites emit edges
    * pointing from a node to a strictly smaller one, so canonical form is
    * preserved for free. Per round: large-star connects every
    * bigger-than-u neighbor to u's neighborhood min (one symmetric
    * adjacency aggregation + join), small-star connects u and its
    * smaller neighbors to their min (one aggregation + join on the
    * canonical orientation). Convergence = round-to-round edge-set
    * equality, checked with ONE exact symmetric-difference job (union →
    * count per pair → any pair seen once?); at the fixpoint the set is a
    * union of stars rooted at component minima, which IS the label
    * relation. All state is (node, node) pairs, vertex-keyed shuffles
    * only, persisted per round with lineage truncation via the same
    * narrow-shuffle gate as [[clustersOf]]. */
  def clustersTwoStarOf(pairs: DataFrame): DataFrame = {
    val fwd = pairs.select(col("doc_a"), col("doc_b"))
      .where(col("doc_a") =!= col("doc_b"))
    val initial = fwd
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .distinct().persist()
    val nEdges = initial.count()
    val session = pairs.sparkSession
    val sessionWidth =
      session.conf.get("spark.sql.shuffle.partitions").toInt
    val labels = graft.Tuning.withNarrowShuffle(session,
        width = if (nEdges <= 1000000L) 8 else sessionWidth) {
      var edges = initial
      var converged = nEdges == 0L
      var round = 0
      while (!converged) {
        round += 1
        if (round > ClusterMaxRounds)
          throw new IllegalStateException(
            s"two-star did not converge in $ClusterMaxRounds rounds")
        // LARGE-STAR over the symmetric adjacency: m(u) = min(Γ(u) ∪ {u});
        // emit (x, m(u)) for every x ∈ Γ(u), x > u. Output is canonical
        // (x > u ≥ m) and connectivity-preserving (the u–m link survives
        // through m's own group).
        val sym = edges.select(col("u"), col("v"))
          .union(edges.select(col("v").as("u"), col("u").as("v")))
        val mins = sym.groupBy(col("u"))
          .agg(least(min(col("v")), col("u")).as("m"))
        val large = sym.join(mins, "u")
          .where(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .distinct()
        // SMALL-STAR on the canonical orientation: per u over its smaller
        // neighbors Γ⁻(u), m = min; emit (x, m) for x ∈ Γ⁻(u) \ {m} plus
        // (u, m). Also canonical (x > m, u > m). Eager localCheckpoint =
        // materialize + cut lineage (the k-means loop discipline; stale
        // checkpoint blocks are ContextCleaner-reclaimed).
        val smins = large.groupBy(col("u")).agg(min(col("v")).as("m"))
        val stepRaw = large.join(smins, "u")
          .where(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(smins.select(col("u"), col("m").as("v")))
        // r21 (r20 VERDICT "Next round" #3): the step's distinct and the
        // convergence check used to be TWO jobs — distinct+checkpoint,
        // then a symmetric-difference union+groupBy over old∪new. One
        // (u,v)-keyed aggregation now does both: the old edge set rides
        // the same exchange with a side marker, max() collapses stepRaw's
        // duplicates (the old distinct), and the convergence scalar —
        // how many pairs sit in exactly one of the two sets — is observed
        // ON the checkpoint action itself, so no second job runs at all.
        // new set = rows with in_new=1 (== distinct(stepRaw) exactly);
        // converged ⇔ no row has in_new ≠ in_old (both sides distinct).
        val obs = org.apache.spark.sql.Observation()
        val merged = stepRaw
          .select(col("u"), col("v"), lit(1).as("nw"), lit(0).as("od"))
          .union(edges.select(col("u"), col("v"), lit(0).as("nw"),
            lit(1).as("od")))
          .groupBy(col("u"), col("v"))
          .agg(max(col("nw")).as("in_new"), max(col("od")).as("in_old"))
          .observe(obs,
            count(when(col("in_new") =!= col("in_old"), 1)).as("diff"))
          .localCheckpoint()
        converged = obs.get("diff").asInstanceOf[Long] == 0L
        if (round == 1) initial.unpersist()
        edges = merged.where(col("in_new") === 1).select(col("u"), col("v"))
        if (converged)
          System.err.println(s"[graft.twostar] converged after $round rounds")
      }
      // The loop exits on round-to-round edge-set equality; the paper's
      // potential argument says that fixpoint IS a union of stars, but we
      // VERIFY rather than trust it (one cheap job on the star-sized set):
      // in a star set every target v is a root and roots never appear on
      // the u side — a v that is also some edge's u means a non-star
      // fixpoint, i.e. a broken rewrite, and silently mislabeled clusters.
      val nonStar = edges.as("a")
        .join(edges.as("b"), col("a.v") === col("b.u"), "left_semi")
      if (!nonStar.isEmpty)
        throw new IllegalStateException(
          "two-star fixpoint is not a union of stars — rewrite bug")
      // fixpoint stars: roots appear only as v (or not at all for
      // singleton inputs, which verified pair graphs never produce)
      edges.select(col("u").as("doc_id"), col("v").as("label"))
        .union(edges.select(col("v").as("doc_id"), col("v").as("label")))
        .distinct()
    }
    clusterOutput(labels)
  }

  /** CANONICAL-PICK composition (r15, r14 VERDICT "What's missing" #4):
    * the actual curation decision the dedup stack feeds — per near-dup
    * family ([[clusters]], X25), KEEP the member with the highest
    * [[PageRank]] centrality prior (X75), ties to the lower doc_id. One
    * row per clustered doc: family, member, its rank value, the family's
    * canonical pick, and the keep/drop verdict. Complements the
    * clustering's own min-id `keep` (a tie-break convention) with a
    * QUALITY-driven survivor — the "keep the most-linked copy" rule
    * published dedup pipelines apply.
    *
    * 100 TB: both inputs ride the persisted pair graph; the composition
    * is one doc-keyed join plus ONE cluster-keyed window over the
    * near-dup population (never the corpus) — the full-frame `first`
    * avoids a second argmax join. */
  def canonicalPick(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cl = clusters(s, dir)
      .select(col("cluster_id"), col("doc_id"), col("cluster_size"))
    val pr = PageRank.pagerank(s, dir).select(col("doc_id"), col("pagerank"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("pagerank").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cl.join(pr, "doc_id")
      .select(col("cluster_id"), col("doc_id"), col("cluster_size"),
        col("pagerank"),
        first(col("doc_id")).over(w).as("canonical_doc_id"))
      .withColumn("keep", col("doc_id") === col("canonical_doc_id"))
      .orderBy(col("cluster_id"), col("doc_id"))
  }

  /** Shared final rollup of the clustering operators: (doc_id, label) →
    * (cluster_id, doc_id, cluster_size, keep). */
  private def clusterOutput(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("label").as("cluster_id"), col("doc_id"),
        col("cluster_size"), (col("doc_id") === col("label")).as("keep"))
      .orderBy(col("cluster_id"), col("doc_id"))
  }

  def clustersOf(pairs: DataFrame): DataFrame = {
    val fwd = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    // Size-gated narrow shuffle width for the propagation loop (r11, same
    // treatment as the k-means build): the per-round vertex-keyed
    // exchanges move label pairs, so a small graph at the session's
    // corpus-sized width is scheduling-bound. The count is one job over
    // the freshly persisted edges; corpus-scale graphs keep the width.
    val nEdges = edges.count()
    val sessionWidth =
      pairs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val labels = graft.Tuning.withNarrowShuffle(pairs.sparkSession,
        width = if (nEdges <= 1000000L) 8 else sessionWidth) {
      propagate(edges)
    }
    // final rollup runs at the session width (it is corpus-row-sized at
    // scale, unlike the loop's label-pair state)
    val out = clusterOutput(labels)
    edges.unpersist()
    out
  }

  /** The min-label propagation loop over a symmetric persisted edge set;
    * returns the converged (doc_id, label) relation (persisted). */
  private def propagate(edges: DataFrame): DataFrame = {
    // seed with round 1 already applied: label₀(x) = min(x, neighbors(x))
    // comes straight out of the vertex aggregation, so clique-shaped
    // components (the common near-dup case) converge after a single
    // stability check instead of an extra propagation round. Each round is
    // localCheckpoint'ed (eager: materialize + CUT LINEAGE — the k-means
    // loop discipline; stale blocks are ContextCleaner-reclaimed): round
    // k's plan references round k-1's TWICE (step ⋈ viaNbr both read
    // `labels`), so an un-truncated loop doubles the plan string per round
    // and the listener-bus explainString OOMs the driver near round 12 —
    // exposed by TwoStarSpec's corpus-shaped graph, whose bridged chain
    // needs more propagation rounds than the near-dup corpus ever has.
    var labels = edges.groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("label"))
      .select(col("src").as("doc_id"), col("label"))
      .localCheckpoint()
    var round = 0
    var converged = false
    while (!converged) {
      round += 1
      if (round > ClusterMaxRounds)
        throw new IllegalStateException(
          s"label propagation did not converge in $ClusterMaxRounds rounds")
      val viaNbr = edges.join(labels, col("dst") === col("doc_id"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_label"))
      // r21 (r20 VERDICT "Next round" #3): the changed-label scalar is
      // OBSERVED on the checkpoint action itself (count of label <
      // old_label rows) instead of a separate per-round isEmpty job —
      // halves the loop's job count; count() is never null on an empty
      // relation, so a degenerate input still converges.
      val obs = org.apache.spark.sql.Observation()
      val step = labels.join(viaNbr, col("doc_id") === col("src"), "left")
        .select(col("doc_id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        .observe(obs,
          count(when(col("label") < col("old_label"), 1)).as("changed"))
        .localCheckpoint()
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      labels = step.select(col("doc_id"), col("label"))
    }
    // operational stderr log (never stdout — the bench JSON line owns it):
    // round count is the O(diameter) term that decides when the
    // large-star/small-star fallback becomes worth it
    System.err.println(s"[graft.clusters] converged after $round rounds")
    labels
  }

  /** CROSS-SOURCE n-gram OVERLAP MATRIX — the provenance artifact a
    * corpus release ships next to its data card: for every source pair,
    * how much word-[[ShingleK]]-gram content they share (distinct shared
    * shingle hashes, per-source distinct counts, and the shingle-set
    * Jaccard). Exact-hash overlap degenerates on a corpus with few
    * verbatim duplicates; shingle-level overlap is the currency the
    * decontamination/near-dup tiers already use, and it surfaces the
    * boilerplate exposure BETWEEN sources that doc-level dedup can miss.
    *
    * 100 TB: the (source, shingle-hash) relation is ONE hash-keyed
    * distinct whose volume is bounded by |sources| × vocabulary (never
    * corpus occurrences); the self-join fans out per shingle to the ≤ S
    * sources sharing it — pair space is bounded by the SOURCE domain
    * (S²/2 output rows), never doc pairs; denominators ride a broadcast
    * S-row relation. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame =
    sourceOverlapOf(docs(s, dir))

  /** [[sourceOverlap]] over any (source, text) relation — unit-test
    * hook. */
  private[llm] def sourceOverlapOf(d: DataFrame): DataFrame = {
    // the distinct (source, gram-hash) relation is bounded by
    // sources×vocabulary (slim fixed-width rows) and feeds FOUR
    // consumers (both self-join legs + the two per-source size
    // broadcasts) — materialized so the corpus explode+hash+distinct
    // subtree runs once, not per consumer (r15: 1.18 s → the explode
    // pass alone)
    val sh = d.select(col("source"),
        explode(shingles(col("text"), ShingleK)).as("sh"))
      .select(col("source"), hash64(col("sh")).as("h"))
      .distinct()
      .localCheckpoint()
    // r21 (r20 VERDICT "Next round" #5): `per` feeds TWO broadcast joins;
    // un-materialized, each broadcast build re-scanned the corpus-vocab-
    // sized checkpoint through its own aggregation (two of the entry's
    // three post-build ~0.4 s jobs). The rollup is |sources| rows —
    // bounded by the source domain — so materializing it once is the
    // 5-row/K-row checkpoint rule, not a scale hazard.
    val per = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(per.select(col("source").as("source_a"),
        col("n").as("n_a"))), "source_a")
      .join(broadcast(per.select(col("source").as("source_b"),
        col("n").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        round(col("n_shared").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_shared")), 6).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }
}
