package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Occupancy-safe Hamming near-dup pair generation over a hash column
  * — the pairing stage behind `mm_phash` / `mm_phash_px`, stated once
  * and shared. The naive formulation (fixed bands of 8-bit keys,
  * equi-join) is EXACT by pigeonhole but corpus-size-BLIND: with
  * 2048 buckets total, candidate volume grows as ~N²/2048 — an
  * all-pairs join with a small constant once an image corpus passes
  * ~10⁶ rows. This module applies the `dd_embed_lsha` discipline to
  * the Hamming domain, three layers deep, every layer EXACT (the
  * output pair set is provably {(a,b) : hamming ≤ k} at any
  * geometry, which is what lets the DuckDB oracle and the exhaustive
  * spec scans pin it):
  *
  *  1. '''Distinct-hash collapse.''' Candidates generate over DISTINCT
  *     hash values, never ids: byte-identical duplicates — the
  *     heaviest mass in any web image corpus, and the one mass no
  *     bucketing can split (Σm² on a single key) — collapse to ONE
  *     row before any join. Same-hash id pairs come from a separate
  *     equi-join on the hash itself (hamming 0 by construction);
  *     cross-hash candidates expand back to ids only after the
  *     hamming verify, so the expansion is output cardinality, not
  *     join pathology.
  *
  *  2. '''Corpus-sized rung ladder''' (Manku et al. 2007's tradeoff,
  *     the production simhash geometry). Rung 0 is the classic
  *     pigeonhole: k+1 bands of exact keys — any pair within hamming
  *     k has a CLEAN band. When the corpus outgrows a rung's key
  *     space (expected distinct-hash occupancy past [[Anchor]]), the
  *     next rung HALVES the band count and doubles key width — 256×
  *     more buckets — paying with a 1-bit MULTIPROBE ring on the
  *     probe side: with ⌈(k+1)/2⌉… bands, a pair within hamming k
  *     has some band carrying ≤ ⌊k/bands⌋ = 1 error, which the flip
  *     ring reaches exactly. Rung choice derives from the corpus row
  *     count — parquet footer stats upstream, no data scan.
  *
  *  3. '''Hot-bucket sub-band split''' (the `semdedupHotGuard`
  *     occupancy discipline). Real hash mass is not uniform:
  *     near-dup families and low-entropy rasters (logos, solid
  *     frames) concentrate in few buckets and re-create |bucket|² on
  *     single join keys at ANY rung. Buckets past [[HotCap]] members
  *     split on the bits OUTSIDE their band: both sides re-key on
  *     k+1 sub-bands of the remaining bits, and since a qualifying
  *     pair's ≤ k errors all live outside the agreed band, some
  *     sub-band is clean — the split loses nothing. A bucket of
  *     IDENTICAL hashes can never be hot here: layer 1 already
  *     collapsed it to one row (the floor `semdedupHotGuard` has to
  *     document is structural here).
  *
  * Total candidate work: distinct-mass-free, ~Anchor per row within
  * a rung's envelope, sub-banded 16× down where mass still
  * concentrates. At the oracle-checked gate scales the ladder picks
  * rung 0 — the exact plan the hash-checked rounds shipped — and
  * HammingPairsSpec forces every rung and the hot path on planted
  * corpora against exhaustive scans.
  */
object HammingPairs {

  private val log = org.slf4j.LoggerFactory.getLogger(HammingPairs.getClass)

  /** One geometry rung: `bands` bands of `width` exact-key bits; the
    * probe side explodes every key within hamming `radius` of its own
    * (radius ≤ 1 keeps the ring linear in the key width). Exact for
    * pairs within hamming k iff bands·radius + bands > k, i.e.
    * radius ≥ ⌊k/bands⌋. */
  final case class Rung(bands: Int, width: Int, radius: Int)

  /** Expected distinct hashes per band bucket at which a rung is
    * abandoned for the next wider one: candidate work per row within
    * a rung is ~bands·(1+radius·width)·occupancy, so holding
    * occupancy at the anchor holds per-row work constant. */
  val Anchor = 64L

  /** Actual bucket population past which the sub-band split engages —
    * deliberately above anything uniform mass produces at the anchor
    * (64 expected), so only genuine concentration pays the k+1-way
    * re-key. */
  val HotCap = 1024L

  /** Distinct-corpus size below which the occupancy machinery is DEAD
    * WORK and the candidate stage runs as one band equi-join +
    * distinct — the exact plan the hash-checked gate rounds shipped.
    * The routing exists to BOUND candidate volume, never to define the
    * pair set (cold and hot emit identical candidates), so skipping it
    * can only change the plan, not the output. Below this bound even
    * TOTAL adversarial concentration — all n distinct hashes in one
    * bucket — caps the un-routed join at n² = 10⁸ hash pairs (realistic
    * mass sits near n²/2^width ≈ 4·10⁵), cheaper than the ~5 fixed
    * jobs (persist, counts aggregate, two routed joins, union) the
    * machinery spends; the round-14 bench measured that overhead at
    * +2.0–2.6 s PER QUERY at gate scale for provably identical output. */
  val FastRows = 10000L

  /** The ladder for a `bits`-bit hash at max hamming `k`:
    * rung 0 = k+1 bands (plain pigeonhole, the pinned gate geometry),
    * rung 1 = (k+1)/2 bands of doubled width with a 1-bit probe ring
    * (⌊k/bands⌋ = 1 there, so the ring is exactly enough). Wider
    * rungs would need radius ≥ 2 rings (quadratic in width) — past
    * rung 1 the sub-band split carries the growth instead. */
  def rungs(bits: Int, k: Int): Seq[Rung] = {
    val b0 = k + 1
    require(bits % b0 == 0 && bits % (b0 / 2) == 0,
      s"hash width $bits does not band evenly at k=$k")
    Seq(Rung(b0, bits / b0, 0), Rung(b0 / 2, bits / (b0 / 2), 1))
  }

  /** The rung `n` corpus rows select at `anchor` occupancy. `n` is
    * the TOTAL row count (footer stats — distinct hashes are fewer),
    * so the choice is conservative: it widens keys a little early,
    * never late. */
  def pick(bits: Int, k: Int, n: Long, anchor: Long = Anchor): Rung = {
    val ladder = rungs(bits, k)
    ladder.find(r => n.toDouble / math.pow(2.0, r.width) <= anchor)
      .getOrElse {
        log.warn(s"hammingPairs: corpus $n rows exceeds the ladder's " +
          s"envelope (top rung ${ladder.last} holds expected occupancy to " +
          s"${anchor << ladder.last.width.min(62)} rows); the hot-bucket " +
          "sub-band split carries the residual concentration")
        ladder.last
      }
  }

  /** Candidate-pair volume a geometry generates on a corpus BEFORE
    * the hamming verify — the measured side of the occupancy story
    * (the embed-LSH geometry measurement of SURVEY.md round 6, item 1,
    * applied to the Hamming domain): HammingPairsSpec asserts the rung
    * ladder actually collapses candidate volume on a corpus that
    * outgrows rung 0, not just that the pair set survives. */
  private[graft] def candidateCount(hashed: DataFrame, idCol: String,
      bits: Int, k: Int, rungIdx: Int, hotCap: Long = HotCap): Long = {
    val spark = hashed.sparkSession
    import spark.implicits._
    val anchor = if (rungIdx == 0) Long.MaxValue / 2 else 0L
    // candidates = distinct (pha, phb) hash pairs the banded joins
    // emit; replicate pairs()' candidate stages minus the verify
    // (fastRows = 0: the point is measuring the routing machinery)
    val distinctPh = hashed.select(col(idCol).as("id"), $"ph")
      .select($"ph").distinct()
    val n = distinctPh.count()
    candidateFrame(distinctPh, n, bits, k, anchor, hotCap, fastRows = 0L).count()
  }

  /** Near-dup id pairs (a_id, b_id, hamming) with a_id < b_id and
    * hamming ≤ k, over `hashed` = (id column, `ph` long hash column —
    * the low `bits` bits). `n` is the corpus row count (rung
    * selection only). `anchor`/`hotCap`/`fastRows` are spec knobs —
    * production callers keep the defaults. Output is UNORDERED
    * (callers sort).
    *
    * '''Output-cardinality contract (the PAIR form):''' the
    * identical-hash stratum emits m(m−1)/2 rows for a hash shared by
    * m ids — the join stays healthy (layer 1 collapses the mass
    * before any candidate work), but the OUTPUT itself is quadratic
    * in per-hash multiplicity: a web-scale logo with 10⁶
    * byte-identical copies emits 5·10¹¹ rows because that is what
    * "all near-dup pairs" means. Callers choosing this form are
    * choosing that contract explicitly; pipelines that only need a
    * representative per duplicate family (the `mm_crawl`
    * raster-digest shape) use [[pairsGrouped]], whose output is
    * linear in distinct hashes + verified cross-hash pairs. */
  def pairs(hashed: DataFrame, idCol: String, n: Long, bits: Int, k: Int,
      anchor: Long = Anchor, hotCap: Long = HotCap,
      fastRows: Long = FastRows): DataFrame = {
    val spark = hashed.sparkSession
    import spark.implicits._
    // PERSISTED once: the stage scans (id, ph) five ways — the
    // same-hash join's two sides, the distinct pass, and the two id
    // expansions — and each would otherwise recompute the caller's
    // hash (a decode + DCT for mm_phash_px). 16 bytes a row, bounded
    // at any corpus size; the OUTPUT pair set materializes at the end
    // so the cache never leaks past this call.
    val ids = hashed.select(col(idCol).as("id"), $"ph")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // layer 1: identical hashes pair directly (hamming 0, output
    // cardinality) and collapse to one row for candidate generation
    val same = ids.as("a").join(ids.as("b"),
        $"a.ph" === $"b.ph" && $"a.id" < $"b.id")
      .select($"a.id".as("a_id"), $"b.id".as("b_id"), lit(0L).as("hamming"))
    val distinctPh = ids.select($"ph").distinct()
    val cand = candidateFrame(distinctPh, n, bits, k, anchor, hotCap, fastRows)
      .select($"pha", $"phb",
        bit_count($"pha".bitwiseXOR($"phb")).cast("long").as("hamming"))
      .filter($"hamming" <= k)
    // expand verified hash pairs back to id pairs (output cardinality)
    val cross = cand
      .join(ids.select($"id".as("ia"), $"ph".as("pha")), "pha")
      .join(ids.select($"id".as("ib"), $"ph".as("phb")), "phb")
      .select(least($"ia", $"ib").as("a_id"),
        greatest($"ia", $"ib").as("b_id"), $"hamming")
    val out = graft.Tables.materialize(same.unionByName(cross))
    ids.unpersist(blocking = false)
    out
  }

  /** The GROUP form of [[pairs]] — the scalable contract for corpora
    * whose duplicate mass makes the pair form's m(m−1)/2 output its
    * own bottleneck. Returns (groups, crossPairs):
    *
    *  - `groups` = (ph, keeper_id, n_ids): ONE row per distinct hash,
    *    keeper = min id (the deterministic representative — the
    *    `mm_crawl` raster-digest discipline), n_ids its multiplicity.
    *    The hamming-0 stratum lives here: a hash shared by m ids is
    *    one row with n_ids = m, never m(m−1)/2 pairs.
    *  - `crossPairs` = (a_id, b_id, hamming) with 1 ≤ hamming ≤ k,
    *    between group KEEPERS only — one row per verified distinct
    *    hash pair, so output is linear in candidate survivors
    *    regardless of per-hash multiplicity.
    *
    * Equivalence to [[pairs]] (spec-pinned): expanding each group to
    * its within-group pairs at hamming 0, plus each keeper pair to
    * the cross product of its two groups' members, reproduces the
    * pair form exactly. */
  def pairsGrouped(hashed: DataFrame, idCol: String, n: Long, bits: Int,
      k: Int, anchor: Long = Anchor, hotCap: Long = HotCap,
      fastRows: Long = FastRows): (DataFrame, DataFrame) = {
    val spark = hashed.sparkSession
    import spark.implicits._
    val ids = hashed.select(col(idCol).as("id"), $"ph")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one partial-agg pass: keeper + multiplicity per distinct hash
    val groups = ids.groupBy($"ph")
      .agg(min($"id").as("keeper_id"), count(lit(1)).as("n_ids"))
    val cand = candidateFrame(groups.select($"ph"), n, bits, k, anchor,
        hotCap, fastRows)
      .select($"pha", $"phb",
        bit_count($"pha".bitwiseXOR($"phb")).cast("long").as("hamming"))
      .filter($"hamming" <= k)
    val cross = cand
      .join(groups.select($"ph".as("pha"), $"keeper_id".as("ia")), "pha")
      .join(groups.select($"ph".as("phb"), $"keeper_id".as("ib")), "phb")
      .select(least($"ia", $"ib").as("a_id"),
        greatest($"ia", $"ib").as("b_id"), $"hamming")
    val outGroups = graft.Tables.materialize(groups)
    val outCross = graft.Tables.materialize(cross)
    ids.unpersist(blocking = false)
    (outGroups, outCross)
  }

  /** Distinct candidate hash pairs (pha < phb) from the banded joins —
    * the stage [[pairs]] verifies and [[candidateCount]] measures.
    * Below `fastRows` the occupancy routing (counts aggregate + hot
    * branch) is skipped as provably dead work — see [[FastRows]]. */
  private[graft] def candidateFrame(distinctPh: DataFrame, n: Long, bits: Int,
      k: Int, anchor: Long, hotCap: Long, fastRows: Long): DataFrame = {
    val spark = distinctPh.sparkSession
    import spark.implicits._
    val rung = pick(bits, k, n, anchor)
    if (rung != rungs(bits, k).head)
      log.info(s"hammingPairs: corpus $n rows -> $rung " +
        s"(pinned ${rungs(bits, k).head}); pair set unchanged by construction")
    val mask = (1L << rung.width) - 1
    def key(b: Int): Column =
      shiftrightunsigned($"ph", b * rung.width).bitwiseAND(lit(mask))
    if (n <= fastRows) {
      // FAST PATH: one band equi-join + distinct, no sub keys, no
      // counts frame, no routing — identical candidates (the cold
      // branch at every bucket), a fraction of the jobs
      val flat = distinctPh.select($"ph",
        posexplode(array((0 until rung.bands).map(key): _*))
          .as(Seq("band", "key")))
      val probeF =
        if (rung.radius == 0) flat
        else flat.select($"ph", $"band",
          explode(array((-1 until rung.width).map { f =>
            if (f < 0) $"key" else $"key".bitwiseXOR(lit(1L << f))
          }: _*)).as("key"))
      return probeF.select($"ph".as("pha"), $"band", $"key")
        .join(flat.select($"ph".as("phb"), $"band", $"key"), Seq("band", "key"))
        .select($"pha", $"phb")
        .filter($"pha" < $"phb")
        .distinct()
    }
    // bits OUTSIDE band b, packed contiguously — the sub-band domain.
    // A qualifying pair agreeing on band b (within the probe radius)
    // carries ALL ≤ k errors here, so k+1 sub-bands leave one clean.
    val subW = (bits - rung.width) / (k + 1)
    def subKeys(b: Int): Column = {
      val low = $"ph".bitwiseAND(lit((1L << (b * rung.width)) - 1))
      val hi = (b + 1) * rung.width
      val rem =
        if (hi >= 64) low // top band of a 64-bit hash: nothing above it
        else shiftleft(shiftrightunsigned($"ph", hi), b * rung.width)
          .bitwiseOR(low)
      array((0 until k + 1).map { j =>
        shiftrightunsigned(rem, j * subW).bitwiseAND(lit((1L << subW) - 1))
      }: _*)
    }
    val banded = distinctPh.select($"ph",
      posexplode(array((0 until rung.bands).map(b =>
        struct(key(b).as("key"), subKeys(b).as("sub"))): _*))
        .as(Seq("band", "s")))
      .select($"ph", $"band", $"s.key".as("key"), $"s.sub".as("sub"))
    // probe side: the band key plus its radius-1 flip ring (rung 0
    // probes exactly its own key — the plan the gate rounds pinned)
    val probe =
      if (rung.radius == 0) banded
      else banded.select($"ph", $"band",
          explode(array((-1 until rung.width).map { f =>
            if (f < 0) $"key" else $"key".bitwiseXOR(lit(1L << f))
          }: _*)).as("key"), $"sub")
    // layer 3 routing: per-(band, key) population decides cold/hot.
    // The counts frame is bounded by bands·2^width keys; probes whose
    // (possibly flipped) key hits no occupied bucket drop in the join.
    val counts = banded.groupBy($"band", $"key").agg(count(lit(1)).as("bn"))
    val baseC = banded.join(counts, Seq("band", "key"))
    val probeC = (if (rung.radius == 0) baseC else probe.join(counts, Seq("band", "key")))
      .select($"ph".as("pha"), $"band", $"key", $"sub", $"bn")
    val coldBase = baseC.filter($"bn" <= hotCap)
      .select($"ph".as("phb"), $"band", $"key")
    val hotBase = baseC.filter($"bn" > hotCap)
      .select($"ph".as("phb"), $"band", $"key",
        posexplode($"sub").as(Seq("subband", "subkey")))
    val coldProbe = probeC.filter($"bn" <= hotCap)
      .select($"pha", $"band", $"key")
    val hotProbe = probeC.filter($"bn" > hotCap)
      .select($"pha", $"band", $"key",
        posexplode($"sub").as(Seq("subband", "subkey")))
    coldProbe.join(coldBase, Seq("band", "key"))
      .select($"pha", $"phb")
      .unionByName(hotProbe.join(hotBase, Seq("band", "key", "subband", "subkey"))
        .select($"pha", $"phb"))
      .filter($"pha" < $"phb") // the flip ring is symmetric: one side suffices
      .distinct() // a pair can collide in several bands/probes
  }
}
