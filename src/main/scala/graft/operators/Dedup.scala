package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Corpus deduplication — the pipeline-scale generalization of the
  * reference's skip-if-hash-seen ingest check (vector_db.py:420-434).
  *
  * Strategy ladder, all shuffle-bounded:
  *  - exact: one groupBy on a content hash (map-side combine shrinks
  *    each partition to distinct hashes before the exchange);
  *  - MinHash+LSH: near-dup candidates from band-bucket equi-joins —
  *    the corpus is never self-crossed; only hash-collision pairs
  *    reach the exact-Jaccard verifier;
  *  - SimHash: 60-bit fingerprints, pigeonhole-banded (4 bands of 15
  *    bits — hamming ≤ 3 guarantees ≥ 1 identical band) so candidate
  *    generation is again an equi-join, then exact hamming;
  *  - embedding-cosine: the semantic variant (ann_lsh is its scale
  *    path; the query here is the exact small-side verifier).
  */
object Dedup {

  /** Seeds for the MinHash signature: 30 hashes = 10 bands × rows of 3.
    * With the corpus's bimodal bigram-Jaccard distribution (near-dups
    * ≥ 0.9, background ≤ 0.14) the per-pair miss probability at j=0.9
    * is (1-0.9³)^10 ≈ 9e-7 — effectively exact — while background
    * pairs collide on a band with p ≈ 0.12³, keeping candidates ~1% of
    * the cross product. */
  val MinHashSeeds = 30
  val BandRows = 3
  val JaccardThreshold = 0.5
  val HammingMax = 3

  /** Exact near-dup clusters on canonicalized text. */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .groupBy(md5(normText($"text")).as("norm_hash"))
      .agg(min($"doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keeper_doc_id")
  }

  /** (doc_id, s): distinct word-bigram shingle sets. */
  private def bigramSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.spread(Tables.load(spark, dir, "documents"))
      .select($"doc_id", array_distinct(shingles(tokens($"text"), 2)).as("s"))
  }

  private[graft] def jaccard(a: Column, b: Column): Column =
    round(size(array_intersect(a, b)).cast("double") / size(array_union(a, b)), 4)

  /** (doc_id, band, bkey): the LSH band keys of each doc's shingle
    * set. The band key is the band's `BandRows` minhashes joined
    * textually — avoids 64-bit packing overflow and hashes uniformly
    * into the shuffle. Shared by the whole-corpus self-join
    * ([[minhashLsh]]) and the incremental new-vs-corpus check
    * ([[incrementalPairs]]). */
  private[graft] def bandKeys(spark: SparkSession, sets: DataFrame): DataFrame =
    bandKeysOfSig(spark, sets.select(col("doc_id"),
      graft.functions.expressions.MinHashSignature(col("s"), MinHashSeeds).as("sig")))

  /** (doc_id, sig) → (doc_id, band, bkey) — the explode half of
    * [[bandKeys]], split out so callers that CACHE the signature
    * (minhashLsh, incrementalPairs) don't recompute the per-shingle
    * digests through the explode. */
  private[operators] def bandKeysOfSig(spark: SparkSession, sig: DataFrame): DataFrame = {
    import spark.implicits._
    sig.select($"doc_id",
        posexplode(transform(sequence(lit(0), lit(MinHashSeeds / BandRows - 1)),
          j => concat_ws(":",
            (0 until BandRows).map(r => element_at($"sig", j * BandRows + r + 1)): _*))))
      .toDF("doc_id", "band", "bkey")
  }

  /** Exact n-gram Jaccard audit over a deterministic 10% sample —
    * the ground-truth twin of the LSH path (all-pairs is O(n²): it
    * exists to audit, not to scale; minhashLsh is the scale path).
    *
    * r17 per-pair kernel: shingle sets are xxhash64-compressed and
    * SORTED once per row, so each of the n²/2 pair evaluations is an
    * allocation-free merge walk over primitive longs
    * ([[graft.functions.expressions.SortedIntersectCount]]) instead of
    * `array_intersect`/`array_union` building two transient string
    * hash sets per pair (measured 15.2 s → see OPTIMIZATION_r17 at
    * sf1). Hashed-set Jaccard equals string-set Jaccard unless two
    * distinct shingles of one pair collide in 64 bits (≈ |s|²·2⁻⁶⁴ per
    * pair) — the identical compression [[minhashLsh]]'s hash-checked
    * verify has always used, and the oracle agreement remains the
    * regression check. |a ∪ b| = |a| + |b| − |a ∩ b| over the distinct
    * sets, and i/(na+nb−i) divides the same exact integers the
    * array_union form divided, so j_r is bit-identical. */
  def jaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = bigramSets(spark, dir).filter($"doc_id" % 10 === 0)
      .select($"doc_id",
        sort_array(transform($"s", x => xxhash64(x))).as("h"),
        size($"s").cast("long").as("ns"))
    val a = t.select($"doc_id".as("a_id"), $"h".as("ha"), $"ns".as("na"))
    val b = t.select($"doc_id".as("b_id"), $"h".as("hb"), $"ns".as("nb"))
    a.crossJoin(b).filter($"a_id" < $"b_id")
      // staging select: the merge-walk count feeds BOTH the numerator
      // and the union size — aliased once so it evaluates once per pair
      .select($"a_id", $"b_id",
        graft.functions.expressions.SortedIntersectCount($"ha", $"hb").as("i"),
        $"na", $"nb")
      // raw-margin pre-filter before the 4dp round (see embedPairs
      // audit): round(x) ≥ 0.05 is impossible below 0.05 − 1e-4, so
      // the BigDecimal rounding runs only on pairs that can qualify
      .filter($"i".cast("double") / ($"na" + $"nb" - $"i") >= 0.05 - 1e-4)
      .select($"a_id", $"b_id",
        round($"i".cast("double") / ($"na" + $"nb" - $"i"), 4).as("j_r"))
      .filter($"j_r" >= 0.05)
      .orderBy($"a_id", $"b_id")
  }

  /** MinHash signatures → LSH band buckets → candidate pairs →
    * exact-Jaccard verification at [[JaccardThreshold]]. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE corpus pass computes the signature (native single-pass
    // expression: one digest per shingle + affine mixes; the per-seed
    // transform() form re-walked the shingle set 30×) AND the
    // xxhash64-compressed shingle set, and THAT narrow frame is what
    // caches and feeds every downstream branch — the raw string
    // shingles (~4× the bytes) are never cached or shuffled. The
    // verify compares hashed sets: identical to string-Jaccard unless
    // two distinct shingles of the same pair collide in 64 bits
    // (≈ |s|²·2⁻⁶⁴ per pair — immaterial at any corpus size; the
    // oracle agreement is itself the regression check). `base` backs
    // both verify joins, `bands` both sides of the band self-join —
    // without the caches the tokenize+shingle pass runs ~4× (measured
    // 9.9 s vs 1.5 s at sf0.1).
    val base = bigramSets(spark, dir)
      .select($"doc_id",
        graft.functions.expressions.MinHashSignature($"s", MinHashSeeds).as("sig"),
        transform($"s", x => xxhash64(x)).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = bandKeysOfSig(spark, base.select($"doc_id", $"sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = bands.select($"band", $"bkey", $"doc_id".as("a_id"))
    val r = bands.select($"band", $"bkey", $"doc_id".as("b_id"))
    val cand = l.join(r, Seq("band", "bkey")).filter($"a_id" < $"b_id")
      .select($"a_id", $"b_id").distinct()
    val verified = cand
      .join(base.select($"doc_id".as("a_id"), $"h".as("ha")), "a_id")
      .join(base.select($"doc_id".as("b_id"), $"h".as("hb")), "b_id")
      .select($"a_id", $"b_id", jaccard($"ha", $"hb").as("j_r"))
      .filter($"j_r" >= JaccardThreshold)
    // Materialize the (tiny) verified-pair result, then RELEASE the
    // working caches — a long-lived session must not accumulate pinned
    // frames (the returned frame no longer references them).
    val out = Tables.materialize(verified)
    base.unpersist(blocking = false)
    bands.unpersist(blocking = false)
    out.orderBy($"a_id", $"b_id")
  }

  /** Incremental near-dup check — a NEW batch against an EXISTING
    * corpus, the continuous-ingestion shape a 100 TB pipeline actually
    * runs (nightly crawl vs the accumulated corpus): candidates come
    * from a band equi-join of the new batch's MinHash band keys
    * against the corpus band table — in production a PERSISTED sidecar
    * ([[GraftVectorDB.ingestNearDup]] is the store-integrated form) —
    * so the per-batch work is O(new) signature compute + one
    * broadcast-hash pass over the (narrow) corpus bands + exact
    * verification of the collision residue. The corpus is NEVER
    * re-paired against itself, and the new batch never crosses the
    * corpus: only band-identical pairs reach the verifier, with the
    * same ~1e-6 per-pair miss bound as [[minhashLsh]].
    *
    * Here base = `doc_id % 10 != 0` (90% of the corpus), new =
    * `doc_id % 10 == 0` (the 10% "tonight's batch"); output is every
    * (new, base) pair at ≥ [[JaccardThreshold]]. */
  def incrementalPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // same narrow cached frame as [[minhashLsh]]: signature + hashed
    // shingles in one corpus pass; strings never cached or shuffled
    val base = sigAndHashes(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = Tables.materialize(incrementalVerified(spark, base))
    base.unpersist(blocking = false)
    out.orderBy($"new_id", $"base_id")
  }

  /** The lazy verified-pairs plan behind [[incrementalPairs]] (no
    * caching or materialization) — exposed so specs can pin the plan
    * shape: broadcast band join, no cartesian product. */
  private[graft] def incrementalPairsPlan(spark: SparkSession, dir: String): DataFrame =
    incrementalVerified(spark, sigAndHashes(spark, dir))

  /** (doc_id, sig, h): MinHash signature + xxhash64-compressed shingle
    * set, one corpus pass. */
  private def sigAndHashes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bigramSets(spark, dir).select($"doc_id",
      graft.functions.expressions.MinHashSignature($"s", MinHashSeeds).as("sig"),
      transform($"s", x => xxhash64(x)).as("h"))
  }

  private def incrementalVerified(spark: SparkSession, base: DataFrame): DataFrame = {
    import spark.implicits._
    val corpus = base.filter($"doc_id" % 10 =!= 0)
    val fresh = base.filter($"doc_id" % 10 === 0)
    // the NEW side broadcasts: an ingest batch is small next to the
    // corpus, so the band join is map-side against the corpus band
    // scan — no shuffle of the corpus bands, ever
    val cand = bandKeysOfSig(spark, corpus.select($"doc_id", $"sig"))
      .join(broadcast(bandKeysOfSig(spark, fresh.select($"doc_id", $"sig"))
        .withColumnRenamed("doc_id", "new_id")), Seq("band", "bkey"))
      .select($"new_id", $"doc_id".as("base_id")).distinct()
    cand
      .join(fresh.select($"doc_id".as("new_id"), $"h".as("ha")), "new_id")
      .join(corpus.select($"doc_id".as("base_id"), $"h".as("hb")), "base_id")
      .select($"new_id", $"base_id", jaccard($"ha", $"hb").as("j_r"))
      .filter($"j_r" >= JaccardThreshold)
  }

  /** 60-bit SimHash fingerprint of the token multiset — a native
    * single-pass Expression ([[graft.functions.expressions.SimHash60]];
    * the Column-HOF formulation re-parsed every token's digest once
    * per bit, 60×). md5-derived so the oracle recomputes it
    * bit-identically. */
  def simhashFingerprint(text: Column): Column =
    graft.functions.expressions.SimHash60(tokens(text))

  /** SimHash near-dup pairs at hamming ≤ [[HammingMax]] via the
    * occupancy-safe [[HammingPairs]] stage (round 14 — the r13 record
    * noted these 15-bit keys share the fixed-banding asymptote at a
    * 128× better constant; now they share the adaptive discipline
    * instead): rung 0 IS the classic 4×15-bit pigeonhole this
    * operator always ran at gate scales, rung 1 doubles to 30-bit
    * keys with the 1-bit probe ring past the occupancy anchor, and
    * hot buckets (a simhash of low-entropy boilerplate shared by
    * millions of pages) sub-split — exact at every geometry, so the
    * DuckDB oracle pins the pair set regardless of corpus size. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = Tables.load(spark, dir, "documents").count() // footer stats
    val fp = Tables.spread(Tables.load(spark, dir, "documents"))
      .select($"doc_id", simhashFingerprint($"text").as("ph"))
    HammingPairs.pairs(fp, "doc_id", n, bits = 60, k = HammingMax)
      .orderBy($"a_id", $"b_id")
  }

  /** Near-dup CLUSTERS: connected components over the [[minhashLsh]]
    * pair graph — the step that turns pairwise matches into keep/drop
    * decisions for a dedup pipeline. Delegates to
    * [[connectedComponents]] (alternating large-star / small-star
    * contraction); cluster ids are component minima, matching the
    * recursive-CTE oracle. At 100 TB the pair graph holds only
    * near-dup edges — orders of magnitude smaller than the corpus —
    * so the loop runs on a residue, not the data. */
  def cluster(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = minhashLsh(spark, dir).select($"a_id", $"b_id")
    val (cc, _) = connectedComponents(pairs)
    // the verified-pairs frame minhashLsh materialized is dead once
    // connectedComponents has built its own canonical edge copy —
    // free it (cluster owns it here; callers like curate that keep
    // using the frame must not release)
    Tables.release(pairs)
    cc.orderBy($"doc_id")
  }

  /** Connected components over an undirected pair graph (columns
    * `a_id`, `b_id`) via alternating large-star / small-star edge
    * contraction — the Kiveris et al. "Connected Components in
    * MapReduce and Beyond" algorithm (public). Round count is
    * O(log n) independent of component DIAMETER, where the previous
    * min-label + pointer-jump loop paid O(log diameter) passes over
    * both an edge and a label frame; here each round is two
    * groupBy-min + equi-join contractions over the edge residue
    * alone, and the residue collapses toward the star forest (every
    * node attached directly to its component minimum), so late
    * rounds run on nearly-final stars. groupBy + join rather than a
    * window so AQE can split a hot star center across tasks (a giant
    * duplicate cluster is one key; a window would pin it to one
    * task). Intermediates are checkpointed per round and released as
    * superseded — at most two rounds of residue stay pinned.
    *
    * Returns the (doc_id, cluster_id = component-minimum id) frame —
    * exactly the min-label semantics the recursive-CTE oracle pins —
    * plus the round count (DedupExactnessSpec asserts the log bound
    * on a planted long chain, the adversarial diameter case). */
  /** Once the edge residue fits under this bound it is CHEAPER to
    * finish on the driver (one collect + union-find) than to schedule
    * more distributed rounds — ≤ 2M (hi, lo) pairs is ~32 MB of
    * driver memory, far under any fit-sample collect already in the
    * library. At corpus scale the contraction rounds do the real
    * work; the driver finish only absorbs the tail (and at test
    * scales, the whole graph). */
  val LocalFinishEdges: Long = 2000000L

  def connectedComponents(pairs: DataFrame): (DataFrame, Int) =
    connectedComponents(pairs, LocalFinishEdges)

  private[graft] def connectedComponents(pairs: DataFrame,
      localFinish: Long): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    var edges = Tables.materialize(
      pairs.select(greatest($"a_id", $"b_id").as("hi"),
          least($"a_id", $"b_id").as("lo"))
        .filter($"hi" =!= $"lo").distinct())
    var prevCount = edges.count()
    var rounds = 0
    var converged = prevCount == 0L
    while (!converged && prevCount > localFinish) {
      rounds += 1
      // LARGE-STAR: every center u re-attaches its strictly-larger
      // neighbors to m = min(N(u) ∪ {u}). m ≤ u < v keeps the
      // canonical (hi > lo) orientation; connectivity is preserved
      // because each dropped edge (v, u) is replaced by (v, m) with
      // m adjacent to u.
      val sym = edges.select($"hi".as("u"), $"lo".as("v"))
        .union(edges.select($"lo".as("u"), $"hi".as("v")))
      val minsL = sym.groupBy($"u").agg(least(min($"v"), $"u").as("m"))
      // persisted: small-star reads it twice (groupBy + join), and
      // recomputing would re-run the large-star shuffle join
      val ls = sym.join(minsL, "u")
        .filter($"v" > $"u")
        .select($"v".as("hi"), $"m".as("lo"))
        .filter($"hi" =!= $"lo")
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // SMALL-STAR: every center hi re-attaches its smaller neighbors
      // (and itself) to m = min of them — one hop of path compression
      // for everything under hi.
      val minsS = ls.groupBy($"hi").agg(min($"lo").as("m"))
      val joinedS = ls.join(minsS, "hi")
      val next = Tables.materialize(
        joinedS.select($"lo".as("hi"), $"m".as("lo")).filter($"hi" =!= $"lo")
          .union(joinedS.select($"hi", $"m".as("lo")))
          .distinct())
      val nc = next.count()
      // fixpoint = identical edge set (both sides are distinct
      // canonical pairs, so equal count + empty anti-join ⇔ equal)
      converged = nc == prevCount &&
        next.join(edges, Seq("hi", "lo"), "left_anti").isEmpty
      ls.unpersist(blocking = false)
      Tables.release(edges)
      edges = next
      prevCount = nc
    }
    val out =
      if (!converged) {
        // residue fits the driver: one collect + union-find (iterative
        // find, path-compressed, union-by-min so every root IS the
        // component minimum — the oracle's min-label contract)
        val local = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
        Tables.release(edges)
        val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
        def find(x0: Long): Long = {
          var x = x0
          while ({ val p = parent.get(x); p != null && p.longValue != x })
            x = parent.get(x).longValue
          var y = x0
          while ({ val p = parent.get(y); p != null && p.longValue != y }) {
            val p = parent.get(y).longValue; parent.put(y, x); y = p
          }
          x
        }
        local.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra < rb) parent.put(rb, ra)
          else if (rb < ra) parent.put(ra, rb)
        }
        val labels = local.iterator.flatMap(p => Iterator(p._1, p._2))
          .toArray.distinct.map(v => (v, find(v)))
        Tables.materialize(
          spark.createDataset(labels.toSeq).toDF("doc_id", "cluster_id"))
      } else {
        // The alternating algorithm's fixpoints are exactly the star
        // forests (no node is both a child and a parent). Loud guard —
        // never expected to fire, but an infinite-loop bug upstream
        // must fail here, not return wrong clusters.
        require(edges.join(edges.select($"lo".as("hi")).distinct(),
            Seq("hi"), "left_semi").isEmpty,
          "connectedComponents: converged edge set is not a star forest")
        val o = Tables.materialize(
          edges.select($"hi".as("doc_id"), $"lo".as("cluster_id"))
            .union(edges.select($"lo".as("doc_id"), $"lo".as("cluster_id")).distinct()))
        Tables.release(edges)
        o
      }
    (out, rounds)
  }

  /** Embedding-dedup signature geometry: 8 tables of 12 sign-bits with
    * 1-bit multiprobe. At the real dedup operating point (near-dup
    * cos ≥ 0.9 → per-plane agreement 0.857) a pair collides in ≥ 1
    * table with p ≈ 0.994, while background pairs (cos ≈ 0) reach the
    * verifier at only ~2.5% of the cross product — the contrast that
    * makes the plan sub-quadratic. This corpus's 0.35 threshold sits
    * BELOW sign-LSH's effective range (per-plane gap 0.61 vs 0.54 —
    * the deliberately-unclustered worst case), so threshold recall
    * here is spec-MEASURED, not assumed, and the exact verifier stays
    * available behind `audit = true` (DedupExactnessSpec). */
  val EmbedLshPlanes = 12
  val EmbedLshTables = 8
  val EmbedThreshold = 0.35

  private val log = org.slf4j.LoggerFactory.getLogger(Dedup.getClass)

  /** Analytic candidate-recall floor of the [[EmbedLshTables]] ×
    * [[EmbedLshPlanes]]-bit 1-bit-multiprobe geometry for a pair at
    * EXACTLY `cosine` (pairs above the threshold recall higher, so
    * this is the worst case the operator serves): per-plane sign
    * agreement for random hyperplanes is 1 − θ/π (the
    * Goemans–Williamson bound), a table collides when ≤ 1 of its
    * planes disagrees (the 1-bit multiprobe), tables are independent.
    * At the cos ≥ 0.9 dedup operating point this evaluates to 0.994 —
    * the figure DedupExactnessSpec measures; at this corpus's
    * adversarial 0.35 threshold it evaluates to 0.18 (measured 0.25:
    * real pairs sit above the floor). Pure driver arithmetic. */
  def signatureRecallBound(cosine: Double): Double =
    signatureRecallBound(cosine, EmbedLshPlanes, EmbedLshTables)

  /** The same Goemans–Williamson floor for ANY `tables`×`planes`-bit
    * 1-bit-multiprobe geometry — the function the adaptive sizing
    * inverts to keep recall pinned while planes grow with the corpus. */
  def signatureRecallBound(cosine: Double, planes: Int, tables: Int): Double = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, cosine))) / math.Pi
    val table = math.pow(p, planes) +
      planes * math.pow(p, planes - 1) * (1.0 - p)
    1.0 - math.pow(1.0 - table, tables)
  }

  /** Scale-adaptive geometry. The pinned [[EmbedLshTables]] ×
    * [[EmbedLshPlanes]] above is CALIBRATED (expected bucket occupancy
    * [[EmbedLshOccupancy]] at the 2k-vector benchmark corpus) but
    * FIXED — and with fixed planes, per-bucket population grows
    * linearly with the corpus while in-bucket candidate pairs grow
    * quadratically in occupancy: the measured 7.7× wall at 10× data
    * (SURVEY §8 round-5 audit). The fix is the one the geometry note
    * always promised: raise planes with log₂(n) so occupancy stays
    * bounded (candidate work per vector stays O(tables)), and raise
    * tables with the analytic recall bound so the cos-0.9 operating
    * point keeps its floor. Tables grow geometrically per plane
    * (×1/p(0.9) ≈ 1.17, partially offset by the 1-bit multiprobe) —
    * ~n^0.22 in the corpus size, so total work is ~n^1.22: the
    * standard sign-LSH recall/cost curve, vs the fixed geometry's
    * occupancy-QUADRATIC candidate blowup (measured 8 → 13 tables for
    * 12 → 16 planes at the sf1 corpus).
    *
    *  - [[adaptivePlanes]]: smallest plane count keeping expected
    *    occupancy `n / 2^planes` ≤ [[EmbedLshOccupancy]], floored at
    *    the pinned 12 (a smaller corpus only under-fills buckets).
    *  - [[adaptiveTables]]: smallest table count whose
    *    [[signatureRecallBound]] at cos [[EmbedOperatingCosine]]
    *    clears [[EmbedRecallFloor]] — the pinned geometry's own floor
    *    (0.994), so growing the corpus never lowers the recall
    *    contract.
    *
    * At the oracle-checked scales (n ≤ 2048) both return the PINNED
    * geometry — the adaptive path and the hash-checked dd_embed_lsh
    * entry are the same plan there (spec-pinned); the geometry only
    * departs once the corpus outgrows the calibration anchor. */
  val EmbedLshOccupancy = 0.5
  val EmbedOperatingCosine = 0.9
  val EmbedRecallFloor = 0.99

  def adaptivePlanes(n: Long): Int =
    math.max(EmbedLshPlanes, math.ceil(
      math.log(math.max(1.0, n / EmbedLshOccupancy)) / math.log(2.0)).toInt)

  def adaptiveTables(planes: Int): Int =
    Iterator.from(1).find(t =>
      signatureRecallBound(EmbedOperatingCosine, planes, t) >= EmbedRecallFloor).get

  /** Whether a threshold sits below the range the signature geometry
    * serves with high recall — the guard [[embedPairsOf]] logs on:
    * sign-LSH recall decays continuously with the threshold, so a
    * caller passing 0.3 would otherwise get confidently-incomplete
    * pairs with no signal that the plan's GEOMETRY (not a bug) is what
    * cannot serve it. */
  def belowLshRange(threshold: Double): Boolean =
    signatureRecallBound(threshold) < 0.9

  /** Embedding-cosine near-dup pairs — the minhashLsh shape in the
    * embedding domain: RP-LSH signature buckets generate candidates
    * (equi-join, never all-pairs), the exact rounded cosine verifies
    * each candidate at [[EmbedThreshold]], so precision is exact by
    * construction and only recall is approximate. `audit = true`
    * switches to the exact all-pairs verifier — O(n²), the
    * ground-truth harness for test-scale audits, NOT a plan to run at
    * corpus scale. */
  def embedPairs(spark: SparkSession, dir: String): DataFrame =
    embedPairs(spark, dir, audit = false)

  /** (vec_id, v, nrm) over the embeddings table — shared by the
    * pinned, adaptive, and audit configs. */
  private def embedVecs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.spread(Tables.load(spark, dir, "embeddings"))
      .select($"vec_id", toDouble($"embedding").as("v"))
      .withColumn("nrm", l2Norm($"v"))
  }

  /** The scale-adaptive config of [[embedPairs]]: same plan, geometry
    * derived from the corpus row count (parquet footer stats — no data
    * scan) via [[adaptivePlanes]]/[[adaptiveTables]]. At the
    * oracle-checked scales this IS the pinned plan (spec-pinned
    * result-identical); past the calibration anchor it holds bucket
    * occupancy — and therefore candidate work per vector — constant
    * where the fixed geometry's grows linearly. */
  def embedPairsAdaptive(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // count() on a parquet relation folds to footer statistics — a
    // driver-side metadata job, not a corpus scan
    val n = Tables.load(spark, dir, "embeddings").count()
    val planes = adaptivePlanes(n)
    val tables = adaptiveTables(planes)
    if (planes != EmbedLshPlanes || tables != EmbedLshTables)
      log.info(s"embedPairsAdaptive: corpus $n vectors -> ${tables}x$planes-bit " +
        f"signatures (pinned ${EmbedLshTables}x$EmbedLshPlanes; analytic recall " +
        f"floor at cos $EmbedOperatingCosine%.1f = " +
        f"${signatureRecallBound(EmbedOperatingCosine, planes, tables)}%.3f)")
    embedPairsOf(embedVecs(spark, dir), EmbedThreshold, tables, planes)
  }

  def embedPairs(spark: SparkSession, dir: String, audit: Boolean): DataFrame = {
    import spark.implicits._
    val v = embedVecs(spark, dir)
    if (audit) {
      val a = v.select($"vec_id".as("a_id"), $"v".as("va"), $"nrm".as("na"))
      val b = v.select($"vec_id".as("b_id"), $"v".as("vb"), $"nrm".as("nb"))
      a.crossJoin(b).filter($"a_id" < $"b_id")
        // r17: pre-filter on the RAW cosine before the 4dp round — the
        // BigDecimal rounding was the n²/2 audit's dominant per-pair
        // cost. round(x,4) ≤ x + 0.51e-4, so x < T − 1e-4 can never
        // round to ≥ T: the margin filter drops only provable
        // non-results, and every surviving pair goes through the
        // IDENTICAL round + threshold (output bit-identical; the
        // oracle hash is the regression check).
        .select($"a_id", $"b_id", cosine($"va", $"vb", $"na", $"nb").as("raw"))
        .filter($"raw" >= EmbedThreshold - 1e-4)
        .select($"a_id", $"b_id", round($"raw", 4).as("sim_r"))
        .filter($"sim_r" >= EmbedThreshold)
        .orderBy($"a_id", $"b_id")
    } else embedPairsOf(v)
  }

  /** The scale path over any (vec_id, v, nrm) frame. Signatures are
    * computed ONCE per vector (96 codegen'd plane dots) and persisted
    * as 12-char strings; multiprobe keys derive from the STRINGS
    * (substring surgery), so no plane dot is ever re-evaluated — the
    * CollapseProject re-derivation trap documented in
    * TextHashExpressions. The persisted frame is (id + 8 short
    * strings): corpus-bounded and tiny next to the vectors. */
  private[graft] def embedPairsOf(v: DataFrame): DataFrame =
    embedPairsOf(v, EmbedThreshold)

  private[graft] def embedPairsOf(v: DataFrame, threshold: Double): DataFrame =
    embedPairsOf(v, threshold, EmbedLshTables, EmbedLshPlanes)

  /** The persisted (vec_id, sg: array of per-table signature strings)
    * frame plus its base/probe bucket-key sides for the pair path.
    * Signatures come from the fused
    * [[graft.functions.expressions.RpSignature]] expression: ONE
    * codegen'd pass over a plane-matrix reference object. The per-plane
    * Column form (tables × planes `when(dot ≥ 0)` exprs, each with a
    * 64-double literal) stays inside whole-stage codegen at the pinned
    * 8×12 geometry but falls out of it as the adaptive geometry grows
    * — measured 2× worse wall at sf1 despite 5.6× fewer candidates —
    * while the fused form's generated code is constant-size in the
    * geometry (and bit-identical: the dd_embed_lsh oracle hash-checks
    * it end-to-end). */
  private def signatureSides(v: DataFrame, tables: Int, planes: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = v.sparkSession
    import spark.implicits._
    val sigs = v.select($"vec_id", graft.functions.expressions.RpSignature(
        $"v", AnnIndex.planeMatrix(tables, planes)).as("sg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = sigs.select($"vec_id", posexplode($"sg")).toDF("vec_id", "t", "sig")
      .select($"vec_id", concat($"t".cast("string"), lit(":"), $"sig").as("bkey"))
    // probe side: own signature + every 1-bit flip, so the equi-join
    // reaches all pairs within hamming ≤ 1 of a table's signature
    val flips = sigs.select($"vec_id", posexplode($"sg")).toDF("vec_id", "t", "sig")
      .select($"vec_id", explode(array((-1 until planes).map { f =>
        val s =
          if (f < 0) $"sig"
          else concat(substring($"sig", 1, f),
            (lit(1) - substring($"sig", f + 1, 1).cast("int")).cast("string"),
            substring($"sig", f + 2, planes))
        concat($"t".cast("string"), lit(":"), s)
      }: _*)).as("bkey"))
    (sigs, base, flips)
  }

  private[graft] def embedPairsOf(v: DataFrame, threshold: Double,
      tables: Int, planes: Int): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    if (signatureRecallBound(threshold, planes, tables) < 0.9)
      log.warn(f"embedPairs: threshold $threshold%.2f is below the " +
        f"${tables}x$planes-bit signature geometry's effective range " +
        f"(analytic recall floor ${signatureRecallBound(threshold, planes, tables)}%.2f < 0.9) - " +
        "pairs returned will be incomplete; use audit = true (exact, test-scale) " +
        "or raise tables / lower planes for low-threshold recall")
    val (sigs, base, flips) = signatureSides(v, tables, planes)
    val cand = flips.select($"vec_id".as("a_id"), $"bkey")
      .join(base.select($"vec_id".as("b_id"), $"bkey"), "bkey")
      .filter($"a_id" < $"b_id")
      .select($"a_id", $"b_id").distinct()
    val verified = cand
      .join(v.select($"vec_id".as("a_id"), $"v".as("va"), $"nrm".as("na")), "a_id")
      .join(v.select($"vec_id".as("b_id"), $"v".as("vb"), $"nrm".as("nb")), "b_id")
      .select($"a_id", $"b_id",
        round(cosine($"va", $"vb", $"na", $"nb"), 4).as("sim_r"))
      .filter($"sim_r" >= threshold)
    val out = Tables.materialize(verified)
    sigs.unpersist(blocking = false)
    out.orderBy($"a_id", $"b_id")
  }

  // ---- SemDeDup: clustering-bucketed embedding dedup ----

  /** Cluster count for the seeded [[semdedup]] oracle config. A
    * production run scales k with the corpus (k ≈ n / the occupancy
    * anchor, the adaptive-cells rule) so cluster sizes — and the
    * within-cluster quadratic term — stay bounded. */
  val SemClusters = 8

  /** SemDeDup (Abbas et al., 2023 — public): embedding dedup with a
    * CLUSTERING prefilter — every vector assigns to its nearest
    * centroid, pairs verify only WITHIN clusters, so the pair space is
    * Σ|cluster|² instead of n² and each cluster's pairs shuffle
    * independently. The k-means-bucketed sibling of [[embedPairs]]'
    * LSH buckets: both bound the quadratic term, LSH by hash
    * collision, SemDeDup by semantic locality — which also makes its
    * misses interpretable (a missed pair straddles a cluster
    * boundary).
    *
    * Centroids are SEEDED deterministically (the first [[SemClusters]]
    * corpus vectors), so the ENTIRE plan — assignment argmax included
    * — replays exactly in SQL and hash-checks against the DuckDB
    * oracle; a production run swaps the seed frame for fitted
    * centroids (the [[AnnIndex]] driver-Lloyd fit) with an identical
    * plan shape — the fit is the only non-oracle step. Assignment
    * rounds the seed cosine to 6dp BEFORE the argmax (both engines
    * pick the same cluster even in the last ulp); ties break to the
    * smallest cluster id. Verification is the exact 4dp cosine at
    * [[EmbedThreshold]] — precision exact, recall bounded by the
    * cluster partition. Output (cl, a_id, b_id, sim_r). */
  def semdedup(spark: SparkSession, dir: String): DataFrame =
    semdedup(spark, dir, SemClusters)

  def semdedup(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import spark.implicits._
    val v = embedVecs(spark, dir)
    val seeds = v.filter($"vec_id" < k)
      .select($"vec_id".as("cl"), $"v".as("cv"), $"nrm".as("cnrm"))
    semdedupPairs(v, seeds)
  }

  /** Expected cluster occupancy for the FITTED config: k =
    * n/[[SemOccupancy]] holds cluster sizes constant as the corpus
    * grows, so within-cluster pair work is ~[[SemOccupancy]]·n —
    * LINEAR in the corpus (the published method's scaling; the
    * adaptive-cells rule applied to the dedup prefilter). The seeded
    * oracle config's fixed k is the test-scale twin. */
  val SemOccupancy = 256

  /** Past this many clusters the flat n×k assignment dominates and
    * [[semdedupFitted]] switches to the HIERARCHICAL two-stage
    * assignment (n×(k₁+k₂) ≈ n×2√k evaluations). The first sf10 run
    * measured the flat form at 74.8 s — ~2/3 of it the 200k×781
    * full-dim assignment — the same flat-routing wall the IMI
    * operator documents for the ANN side. */
  val SemFlatMax = 64

  /** Cap on the fitted cluster count: the fit is driver Lloyd over a
    * ≤ SampleTarget-row sample, and past ~SampleTarget/4 clusters the
    * init is point-starved — the [[GraftVectorDB.MaxAdaptiveCells]]
    * rule applied here. Past the cap, occupancy (and the per-row pair
    * work) grows with n/cap — raise SampleTarget together with it. */
  val MaxSemClusters: Int = (AnnIndex.SampleTarget / 4).toInt

  /** The production SemDeDup config: centroids FITTED driver-locally
    * from ONE bounded sample (the IVF routing fit machinery verbatim),
    * k derived from the corpus row count at the [[SemOccupancy]]
    * anchor and capped at [[MaxSemClusters]] (fit quality — the
    * adaptive-cells rule). Small k assigns flat (one broadcast argmax
    * pass); past [[SemFlatMax]] the assignment goes HIERARCHICAL:
    * Lloyd fits √k coarse centroids, each coarse cell's sample
    * members fit their own sub-centroids, and the corpus assigns in
    * two argmax stages (coarse, then sub within the chosen coarse) —
    * n×(k₁+k₂) distance evaluations instead of n×k, the routing-cost
    * shape [[AnnIndex.imi]] documents, measured 74.8 → ~13 s at sf10.
    * `[rows-only]`: precision stays exact (identical 4dp verify),
    * recall is bounded by the cluster partition and measured in
    * DedupExactnessSpec; the seeded [[semdedup]] is the hash-checked
    * twin of everything but the fit/assignment. */
  def semdedupFitted(spark: SparkSession, dir: String): DataFrame =
    semdedupFittedOf(embedVecs(spark, dir),
      graft.Tables.load(spark, dir, "embeddings").count(), // footer stats
      SemOccupancy, SemFlatMax)

  /** Parameterized form so the spec can drive BOTH assignment branches
    * on a planted frame (the hierarchical one needs k > flatMax, which
    * the gate-scale corpora never reach at the default occupancy). */
  private[graft] def semdedupFittedOf(v: DataFrame, n: Long,
      occupancy: Long, flatMax: Int): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    val k = math.min(MaxSemClusters,
      math.max(SemClusters, (n / occupancy).toInt))
    val sample = AnnIndex.sampleVectors(v, $"vec_id")
    if (k <= flatMax) {
      val seeds = AnnIndex.centroidsFromSample(spark, sample, k)
        .select($"cell".cast("long").as("cl"), $"cv")
        .withColumn("cnrm", l2Norm($"cv"))
      semdedupPairs(v, seeds, occupancy * SemHotFactor)
    } else {
      val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
      val k2 = math.ceil(k.toDouble / k1).toInt
      val coarse = AnnIndex.lloyd(sample, k1, iters = 5)
      // sample members route to their coarse cell driver-side BY THE
      // SAME METRIC the corpus assignment uses (cosine argmax) — an
      // L2 partition here would fit sub-codebooks from points the
      // cosine routing never sends to that cell, silently costing
      // recall on unnormalized embeddings; each cell's members fit
      // its sub-centroids (empty/tiny cells keep the coarse centroid
      // itself as their single sub)
      def near(p: Array[Double], cs: Array[Array[Double]]): Int = {
        def cos(a: Array[Double], b: Array[Double]): Double = {
          var d = 0.0; var na = 0.0; var nb = 0.0; var j = 0
          while (j < a.length) {
            d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1
          }
          d / math.sqrt(na * nb)
        }
        cs.indices.maxBy(i => cos(p, cs(i)))
      }
      val bySample = sample.groupBy(near(_, coarse))
      val subs: Seq[(Long, Long, Seq[Double])] = (0 until k1).flatMap { c =>
        val pts = bySample.getOrElse(c, Array.empty)
        val cs = if (pts.length < 2) Array(coarse(c))
          else AnnIndex.lloyd(pts, math.min(k2, pts.length), iters = 5)
        cs.zipWithIndex.map { case (cv, s) =>
          (c.toLong, c.toLong * k2 + s, cv.toSeq) }
      }
      val coarseDf = coarse.zipWithIndex
        .map { case (cv, i) => (i.toLong, cv.toSeq) }.toSeq.toDF("cl", "cv")
        .withColumn("cnrm", l2Norm($"cv"))
      val subDf = subs.toDF("ci", "cl", "cv")
        .withColumn("cnrm", l2Norm($"cv"))
      // stage 1 is the ONE shared argmax helper over the coarse seeds
      // (n×k1); stage 2 repeats its exact rounding/tie-break contract
      // but joins each row to ITS coarse cell's sub-seeds only (n×≤k2
      // via a broadcast equi-join — the shape the helper's crossJoin
      // cannot express)
      val a1 = semdedupAssign(v, coarseDf).withColumnRenamed("cl", "ci")
      val assigned = a1.join(broadcast(subDf), "ci")
        .select($"vec_id", $"v", $"nrm",
          round(cosine($"v", $"cv", $"nrm", $"cnrm"), 6).as("csim"), $"cl")
        .groupBy($"vec_id")
        .agg(max(struct($"csim", (-$"cl").as("ncl"))).as("m"),
          first($"v").as("v"), first($"nrm").as("nrm"))
        .select($"vec_id", $"v", $"nrm", (-$"m.ncl").as("cl"))
      semdedupPairsOf(assigned, occupancy * SemHotFactor)
    }
  }

  /** A fitted cluster past `occupancy ×` this factor counts as HOT and
    * sub-splits before the verify join — the occupancy anchor holds
    * the MEAN cluster size, but an adversarial near-dup-heavy corpus
    * concentrates mass in one cluster and re-creates |c|² on a single
    * join key (the failure mode [[GraftVectorDB.splitHotCells]] guards
    * against on the ANN side). */
  val SemHotFactor = 4L

  /** Assignment + within-cluster verify, shared by the seeded and
    * fitted configs (they differ ONLY in the seeds frame). */
  private def semdedupPairs(v: DataFrame, seeds: DataFrame,
      hotCap: Long = Long.MaxValue): DataFrame =
    semdedupPairsOf(semdedupAssign(v, seeds), hotCap)

  /** Flat argmax assignment over one broadcast seeds frame via ONE
    * partial-agg max(struct): the corpus shuffles once on vec_id
    * (map-side combined k→1), never on anything quadratic. */
  private def semdedupAssign(v: DataFrame, seeds: DataFrame): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    v.crossJoin(broadcast(seeds))
      .select($"vec_id", $"v", $"nrm",
        round(cosine($"v", $"cv", $"nrm", $"cnrm"), 6).as("csim"), $"cl")
      .groupBy($"vec_id")
      .agg(max(struct($"csim", (-$"cl").as("ncl"))).as("m"),
        first($"v").as("v"), first($"nrm").as("nrm"))
      .select($"vec_id", $"v", $"nrm", (-$"m.ncl").as("cl"))
  }

  /** Within-cluster exact verify of an assigned (vec_id, v, nrm, cl)
    * frame at the shared threshold. With a finite `hotCap`, clusters
    * past it SUB-SPLIT first ([[semdedupHotGuard]]) so no single join
    * key carries a quadratic row count; the seeded oracle config keeps
    * the default (no guard — its plan is the hash-checked twin). */
  private def semdedupPairsOf(assigned: DataFrame,
      hotCap: Long = Long.MaxValue): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    def verify(a: DataFrame): DataFrame = {
      val l = a.select($"cl", $"vec_id".as("a_id"), $"v".as("va"), $"nrm".as("na"))
      val r = a.select($"cl", $"vec_id".as("b_id"), $"v".as("vb"), $"nrm".as("nb"))
      l.join(r, "cl").filter($"a_id" < $"b_id")
        .select($"cl", $"a_id", $"b_id",
          round(cosine($"va", $"vb", $"na", $"nb"), 4).as("sim_r"))
        .filter($"sim_r" >= EmbedThreshold)
    }
    if (hotCap == Long.MaxValue) verify(assigned).orderBy($"a_id", $"b_id")
    else {
      val a0 = assigned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = Tables.materialize(verify(semdedupHotGuard(a0, hotCap)))
      a0.unpersist(blocking = false)
      out.orderBy($"a_id", $"b_id")
    }
  }

  /** Sub-split clusters past `hotCap` members before the verify join:
    * each hot cluster's own bounded sample fits sub-centroids (driver
    * Lloyd — the [[GraftVectorDB.splitHotCells]] machinery applied to
    * the dedup prefilter), its members re-assign among THOSE subs only
    * (broadcast equi-join on the old cluster id — the hierarchical
    * stage-2 shape), and sub-clusters get globally-unique fresh ids.
    * Per-key join size after the guard is ~occupancy-bounded for any
    * spatially-splittable mass; a cluster of IDENTICAL vectors cannot
    * sub-split (its true pair set is itself quadratic — exact-hash
    * dedup upstream is the right tool for that mass) and is the
    * documented floor. One level, deterministic end-to-end (hash-order
    * sample, seeded Lloyd, 6dp argmax with smallest-id ties). */
  private[graft] def semdedupHotGuard(assigned: DataFrame, hotCap: Long): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val hot = assigned.groupBy($"cl").agg(count(lit(1)).as("n"))
      .filter($"n" > hotCap).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (hot.isEmpty) return assigned
    val hotIds = hot.keys.toSeq.sorted
    val maxCl = assigned.agg(max($"cl")).collect()(0).getLong(0)
    var base = maxCl + 1
    val subSeeds = hotIds.flatMap { c =>
      val sample = AnnIndex.sampleVectors(
        assigned.filter($"cl" === c).select($"vec_id", $"v"), $"vec_id")
      // target sub-size = hotCap / SemHotFactor (the occupancy anchor),
      // capped by the sample (fit quality) and the global cluster cap
      val subK = math.min(math.min(sample.length.toLong, MaxSemClusters.toLong),
        (hot(c) * SemHotFactor + hotCap - 1) / hotCap).toInt
      val cs = AnnIndex.lloyd(sample, math.max(2, subK), iters = 5)
      val out = cs.zipWithIndex.map { case (cv, s) => (c, base + s, cv.toSeq) }
      base += cs.length
      out
    }.toDF("ci", "cl", "cv").withColumn("cnrm", l2Norm($"cv"))
    val cold = assigned.filter(!$"cl".isin(hotIds: _*))
    val reassigned = assigned.filter($"cl".isin(hotIds: _*))
      .withColumnRenamed("cl", "ci")
      .join(broadcast(subSeeds), "ci")
      .select($"vec_id", $"v", $"nrm",
        round(cosine($"v", $"cv", $"nrm", $"cnrm"), 6).as("csim"), $"cl")
      .groupBy($"vec_id")
      .agg(max(struct($"csim", (-$"cl").as("ncl"))).as("m"),
        first($"v").as("v"), first($"nrm").as("nrm"))
      .select($"vec_id", $"v", $"nrm", (-$"m.ncl").as("cl"))
    cold.unionByName(reassigned)
  }

  /** Query parameters a canonicalizer DROPS — tracking noise that
    * fragments crawl URLs into spurious "distinct" pages (the
    * utm_* family, click ids). */
  private val TrackingParam = "^(utm_[^=]*|ref|fbclid|gclid)(=.*)?$"

  /** Canonical form of a URL column, pure built-ins around Spark's
    * `parse_url` (codegen'd): lowercase scheme and authority, default
    * port stripped, duplicate path slashes collapsed and the trailing
    * slash dropped (root stays "/"), tracking params removed and the
    * survivors SORTED (param order is transport noise), fragment
    * dropped (client-side only). The canonicalization every crawl
    * processor runs before URL-level dedup. */
  def canonicalUrl(u: Column): Column = {
    val scheme = lower(parse_url(u, lit("PROTOCOL")))
    val auth0 = lower(parse_url(u, lit("AUTHORITY")))
    val auth = when(scheme === "http", regexp_replace(auth0, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth0, ":443$", ""))
      .otherwise(auth0)
    val path0 = regexp_replace(parse_url(u, lit("PATH")), "/{2,}", "/")
    val path = when(path0 === "" || path0 === "/", lit("/"))
      .otherwise(regexp_replace(path0, "/$", ""))
    val params = filter(split(parse_url(u, lit("QUERY")), "&"),
      p => !(p.rlike(TrackingParam) || p === ""))
    val query = when(params.isNull || size(params) === 0, lit(""))
      .otherwise(concat(lit("?"), array_join(array_sort(params), "&")))
    concat(scheme, lit("://"), auth, path, query)
  }

  /** dd_urls — URL-level dedup over a crawl's raw URL stream: group
    * by [[canonicalUrl]], report the raw-variant and distinct-doc
    * counts per canonical page and the keeper. The synthetic stream
    * ships two raw variants per document (an uppercase/default-port/
    * doubled-slash/tracking-params/fragment mess and a clean form) so
    * the oracle hash-checks every canonicalization rule. One narrow
    * pass + one partial-agg groupBy — the exact-dedup shuffle shape
    * at any scale. */
  def urlDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val raw = Tables.spread(Tables.load(spark, dir, "documents"))
      .select($"doc_id", explode(array(
        concat(lit("HTTP://Example.COM:80//articles//item"),
          ($"doc_id" % 40).cast("string"),
          lit("/?utm_source=feed&b=2&a=1&fbclid=xyz#top")),
        concat(lit("http://example.com/articles/item"),
          ($"doc_id" % 40).cast("string"), lit("?a=1&b=2")))).as("url"))
    raw.select($"doc_id", canonicalUrl($"url").as("canonical"))
      .groupBy($"canonical")
      .agg(count(lit(1)).as("n_raw"),
        countDistinct($"doc_id").as("n_docs"),
        min($"doc_id").as("keeper_doc_id"))
      .orderBy($"canonical")
  }
}
