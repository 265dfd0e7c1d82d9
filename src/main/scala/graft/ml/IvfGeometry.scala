package graft.ml

import graft.functions.{TopKHeap, VectorKernels}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Corpus-sized IVF geometry (VERDICT r12 ask #1): the registered ANN
 * queries must not pin `nCentroids = 8` — an 8-cell coarse quantizer
 * probes 7/8 of ANY corpus forever, so the indexed spelling never
 * amortizes at scale. This object is the production rule that sizes the
 * index FROM the corpus:
 *
 *  - `nCentroids` = the sqrt(N) IVF sizing (cells grow with the corpus,
 *    per-cell candidate volume stays ~sqrt(N), so probed work per query
 *    grows sub-linearly), BANDED to powers of two and CLAMPED to at
 *    least [[MinRowsPerCell]] rows per cell — see [[centroidsFor]] for
 *    why both of the literal rule's failure modes (per-ingest rebuild
 *    cadence at scale, routing overhead at fixture scale) need it;
 *  - `nProbe` = the smallest probe width whose MEASURED recall@k on a
 *    deterministic anchor sample meets the caller's contract — the
 *    published index-autotuning practice (pick the operating point on
 *    the recall/probe curve, don't guess it). On a uniform-random corpus
 *    the calibration honestly lands near full probing (no cluster
 *    structure to exploit — BitextClusteredSpec measures the clustered
 *    contract where the probed fraction is small); on a clustered corpus
 *    it lands at a small fraction of the cells. Either way the REGISTERED
 *    query serves whatever its corpus needs, at any scale.
 *
 * Cost shape: calibration is four Spark jobs and no shuffle
 * ([[buildJointHist]]): a row count, the anchor collect, ONE pass that
 * scores the |A| <= 128 anchors against every searchable row (|A| x N
 * cosines — linear, |A| fixed — reduced in each partition to bounded
 * top-kCap lists, so |partitions| x |A| x kCap hits reach the driver),
 * and a cell-table scan filtered to the <= |A| x kCap neighbour ids
 * that also returns the centroid table; cell ranks and the histogram
 * are driver arithmetic. A link-append grow scores its parent's anchors
 * against the delta rows only (|A| x |delta| cosines, two jobs) when the
 * session holds the parent's histogram state, after the result-reuse
 * idea of the EDBT 2020 incremental top-k framework (PAPERS.md). It runs
 * once per (corpus, contract): the chosen
 * width is persisted as a sidecar inside the published index directory
 * (the index is fingerprint-keyed on corpus content + build params, so
 * a regenerated corpus recalibrates), and the session-shared
 * `ann_geometry` artifact makes repeat lookups free.
 *
 * Reference anchor: the indexed escape from the brute-force scan of
 * MerkonMemoryStore.cs:133-146, now with the index actually sized to
 * the corpus instead of a fixture constant.
 */
object IvfGeometry {

  val MinCentroids = 8

  /** A cell must hold enough rows to amortize its own existence: opening
    * a cell directory (file handle, parquet footer, task schedule) costs
    * roughly as much as scanning ~100 rows, so a quantizer whose cells
    * are thinner pays more in routing/partition overhead than the
    * pruning returns. The floor is fit to two measurements, one on each
    * side: r13's sqrt-derived 45 cells of ~44 rows on the 2,000-row
    * fixture DOUBLED the `ann_indexed_*` walls (cells too thin), while
    * on the uniform 10x corpus 141 cells of ~142 rows measured 2.6x
    * FASTER than a 64-cell/312-row quantizer at the same recall contract
    * (cells already thick enough — a 256 floor overshot, r14 session
    * logs). 128 sits between the measured-bad 44 and the measured-good
    * 142. The clamp binds below N = MinRowsPerCell² = 16,384 rows and is
    * inert at scale, where sqrt(N) cells hold ~sqrt(N) >= 128 rows. */
  val MinRowsPerCell = 128

  /**
   * The banded corpus-sized coarse-quantizer sizing (r14, replacing the
   * literal `round(sqrt(N))` of r13): the target cell count is
   * `min(sqrt(N), N / MinRowsPerCell)` — sqrt-N IVF sizing with the
   * small-corpus clamp above — QUANTIZED to the nearest power of two
   * (round-half-up in log space: bump while target >= c*sqrt(2)), floored
   * at [[MinCentroids]].
   *
   * The power-of-two band is the growth hysteresis that keeps the APPEND
   * path reachable under ingest: `c` is constant while N moves inside a
   * ~4x band (sqrt regime; ~2x in the clamp regime), so a grown corpus
   * resolves to the SAME index params and [[IvfIndex.openOrBuildPath]]
   * rides `IndexCache`'s manifest-subset append (frozen centroids, no
   * k-means re-fit) — only the cheap nProbe sidecar recalibrates. The
   * literal sqrt rule re-keyed the cache every ~2/sqrt(N) of relative
   * growth (at 10^9 rows, every ~0.006% of ingest), degenerating the
   * index job into a perpetual re-fit. A band-crossing growth (or any
   * changed/removed source file) still rebuilds — append never serves a
   * quantizer the corpus outgrew. GeometryGrowthSpec pins all three
   * behaviors.
   *
   * Determinism across engines: the bump condition `target >= c*sqrt(2)`
   * is evaluated as `target² >= 2c²`, where `target² =
   * min(N, (N/MinRowsPerCell)²)` is EXACT in doubles (an integer, or the
   * square of a dyadic rational) — no square roots or logarithms whose
   * last-ulp rounding could disagree with the DuckDB oracle's derivation
   * (`8 * 2^max(0, floor((log2(t2) - 5) / 2))`, exact at every integer
   * band boundary because t2 is exact).
   */
  def centroidsFor(n: Long): Int = {
    val nd = n.toDouble
    val t2 = math.min(nd, (nd / MinRowsPerCell) * (nd / MinRowsPerCell))
    var c = MinCentroids.toLong
    while (2.0 * c * c <= t2 && c < (1L << 30)) c *= 2
    c.toInt
  }

  /** k-means wants ~this many training points per centroid before a
    * codebook stops overfitting its sample (FAISS's
    * `min_points_per_centroid`; the training sample itself is capped at
    * [[Quantizer.MaxPointsPerCentroid]] per centroid). */
  val TrainPointsPerCentroid = 39

  /** Corpus-sized PQ codebook width: the standard 8-bit codebooks (256
    * centroids/subspace — byte-aligned codes, finer quantization) once
    * the per-subspace training set supports them at
    * [[TrainPointsPerCentroid]], else the small-corpus 16 (4-bit). The
    * same sized-FROM-the-corpus discipline as [[centroidsFor]], applied
    * to the other quantizer: a fixture-tuned 16 would stay coarse
    * forever at 100 TB, wasting the ADC scan's re-rank budget on
    * quantization error. */
  def codebookFor(n: Long): Int =
    if (n >= 256L * TrainPointsPerCentroid) 256 else 16

  /** Subspace count from the embedding dimension: 8-dim subvectors
    * (m = dim/8 → one byte per subspace at 256-wide codebooks, the
    * standard PQ compression point), floored at 1 and capped at dim. */
  def subspacesFor(dim: Int): Int =
    math.max(1, math.min(dim, dim / 8))

  /** ADC shortlist depth for a PQ-served top-k: the shortlist exists to
    * absorb quantized-score rank displacement, and displacement scales
    * with codebook coarseness — so the floor is 192 at the standard
    * 8-bit width (the published re-rank practice) and grows inversely
    * with the codebook for the small-corpus 4-bit shape, with an 8×k
    * lower bound for large k. Fit to a measurement, not guessed: at
    * kc=16 on the 2,000-row sf0.1 fixture (c=16, calibrated p=14 →
    * ~1,750 probed candidates) a 192-deep shortlist measured recall@10
    * 0.833 — BELOW the 0.9 family contract even though the cell probe
    * held 0.967 — while 384+ recovered the full IVF bound; coarse codes
    * simply cannot rank a deep candidate set that finely. The scaled
    * floor is inert at scale (codebookFor sizes real corpora to 256). */
  def shortlistFor(kCentroids: Int, k: Int): Int =
    math.max(8 * k, 192 * math.max(1, 256 / kCentroids))

  /**
   * A recall contract the calibrated probe width must meet: recall@k on
   * the anchor sample >= targetRecall. For a FILTERED consumer (allow-list
   * probes), size k to the unfiltered rank the filtered top-k lives at —
   * k_query / selectivity (a 50%-selective predicate's top-16 sits near
   * unfiltered rank 32) — instead of multiplying nProbe blindly.
   */
  final case class Contract(k: Int, targetRecall: Double, nAnchors: Int = 128) {
    require(k >= 1 && targetRecall > 0 && targetRecall <= 1 && nAnchors >= 1)
    /** Path-safe key of the contract for the persisted sidecar. The
      * trailing token versions the CALIBRATION ALGORITHM (anchor rule,
      * sweep) — bumping it orphans stale sidecars instead of serving a
      * width measured under a different sampling scheme. v3: a grown
      * artifact calibrates over the anchors its parent recorded. */
    def fingerprint: String =
      s"k$k-r${math.round(targetRecall * 1000)}-a$nAnchors-v3"
  }

  /** The store flagship's calibration contract (recall@10 ≥ 0.95 — the
    * reference's top-k query shape): ONE definition shared by the Scala
    * index job (`MerkonStore.buildIndex`) and the SQL CALL surface
    * (`MerkonCatalog`'s `build_index` procedure), so the two entry
    * points to the same job can never silently diverge on the parameter
    * they are documented to share. */
  val FlagshipContract: Contract = Contract(10, 0.95)

  /** A calibration result: the corpus-sized index plus the measured
    * recall at the chosen width (spec observability — regressions surface
    * with their magnitude, not just a flipped pass bit). */
  final case class Calibrated(ivf: IvfIndex, measuredRecall: Double) {
    def probeFraction: Double = ivf.nProbe.toDouble / ivf.nCentroids
  }

  /** The calibrated corpus-sized index for `sourcePath` — the entry
    * point registered queries use. Builds (or opens) the sqrt-N-cell
    * index via [[IvfIndex.openOrBuild]]'s fingerprint discipline, then
    * resolves nProbe from the sidecar or calibrates it. Shared per
    * (corpus, contract, root) as `ann_geometry`: the store's
    * mutate-then-`buildIndex` refresh overwrites its snapshot dump in
    * place, and must recalibrate rather than be served the old corpus's
    * geometry. Values are tiny (a geometry + one double). */
  def calibrated(spark: SparkSession, sourcePath: String, idCol: String,
      embCol: String, contract: Contract,
      cacheRoot: String = IndexCache.DefaultIvfRoot): Calibrated =
    graft.util.SharedArtifact(spark, "ann_geometry", Seq(sourcePath),
      (contract, cacheRoot))(
      resolve(spark, sourcePath, idCol, embCol, contract, cacheRoot))

  /** [[calibrated]] returning just the index. */
  def calibratedIvf(spark: SparkSession, sourcePath: String, idCol: String,
      embCol: String, contract: Contract): IvfIndex =
    calibrated(spark, sourcePath, idCol, embCol, contract).ivf

  private def resolve(spark: SparkSession, sourcePath: String, idCol: String,
      embCol: String, contract: Contract, cacheRoot: String): Calibrated = {
    // read once, and only if needed: a cold build and a calibration
    // share this frame, and a warm open with a valid sidecar needs
    // neither (each read infers the schema in a footer job)
    lazy val corpus = spark.read.parquet(sourcePath)
    // size c from the TOTAL row count — the SAME number every other
    // centroidsFor consumer and the DuckDB oracle's count(*) closed
    // form derive, so the geometry agrees across paths even when
    // zero-norm rows exist (they only ever OVERSHOOT c by at most one
    // band, never change which index answers a query). r17: answered
    // from the parquet FOOTERS on the driver — a warm open previously
    // paid a scheduled Spark job here (and another for the zero-norm
    // probe below) per (corpus, contract) entry, ~0.5 s × 7
    // entries of pure job overhead per bench session.
    val c = centroidsFor(IndexCache.rowCount(spark, sourcePath, corpus))
    val (indexPath, grow) = IvfIndex.openOrGrowPath(spark, new IvfIndex(c, 1),
      sourcePath, corpus, idCol, embCol, cacheRoot)
    val sidecar = new java.io.File(indexPath, s"nprobe-${contract.fingerprint}")
    // a truncated/foreign sidecar (killed writer outside the atomic-move
    // window, stray bytes) must fall back to recalibration — rewriting
    // the file below — never crash every future query on this index with
    // a bare MatchError. Validity is structural: an in-range width and a
    // real measured recall.
    val fromSidecar =
      if (!sidecar.isFile) None
      else scala.util.Try {
        val Array(p, r) = new String(
          java.nio.file.Files.readAllBytes(sidecar.toPath), "UTF-8")
          .trim.split(' ')
        (p.toInt, r.toDouble)
      }.toOption.collect {
        case (p, r) if p >= 1 && p <= c && !r.isNaN =>
          Calibrated(new IvfIndex(c, p), r)
      }
    fromSidecar.getOrElse {
      // zero-norm fail-fast lives in IvfIndex.build (the cold branch);
      // a valid fingerprint-fresh sidecar proves the corpus calibrated
      // before, so the warm open stays job-free (r17)
      val out = calibrate(spark, indexPath, grow, corpus, idCol, embCol, c,
        contract)
      // a concurrent calibrator computes the same deterministic answer,
      // so either writer's file serves both
      writeAtomically(indexPath, sidecar.getName,
        s"${out.ivf.nProbe} ${out.measuredRecall}".getBytes("UTF-8"))
      out
    }
  }

  /** Publish `bytes` as `indexPath/name` in one rename. */
  private def writeAtomically(indexPath: String, name: String,
      bytes: Array[Byte]): Unit = {
    val tmp = java.io.File.createTempFile(name, ".tmp",
      new java.io.File(indexPath))
    java.nio.file.Files.write(tmp.toPath, bytes)
    java.nio.file.Files.move(tmp.toPath, new java.io.File(indexPath, name).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Name prefix of the artifact files recording a calibration's anchor
    * ids, one per anchor count: `anchors-a<nAnchors>`, the sorted
    * surrogate ids as 8-byte longs (1 KiB at 128 anchors). A link-append
    * grow keeps its parent's ([[IvfIndex.appendOnDisk]]), so the grown
    * artifact calibrates over the anchors its parent did, whichever
    * session does it. */
  private[ml] val AnchorsPrefix = "anchors-a"

  /** The anchor ids recorded in the artifact at `indexPath`, None when
    * it recorded none (or the record is not whole). */
  private[ml] def readAnchors(indexPath: String,
      nAnchors: Int): Option[Array[Long]] = {
    val f = new java.io.File(indexPath, s"$AnchorsPrefix$nAnchors")
    if (!f.isFile) None
    else scala.util.Try(java.nio.file.Files.readAllBytes(f.toPath)).toOption
      .filter(b => b.nonEmpty && b.length % 8 == 0)
      .map { b =>
        val longs = java.nio.ByteBuffer.wrap(b).asLongBuffer()
        Array.fill(longs.remaining())(longs.get())
      }
  }

  private def writeAnchors(indexPath: String, nAnchors: Int,
      gids: Array[Long]): Unit = {
    val bb = java.nio.ByteBuffer.allocate(8 * gids.length)
    gids.sorted.foreach(bb.putLong)
    writeAtomically(indexPath, s"$AnchorsPrefix$nAnchors", bb.array())
  }

  /** The joint (exact_rank, cell_rank) pair histogram over the anchor
    * sample at a deep rank cap — the ONE artifact every contract on the
    * same index derives its calibration from (r18). `counts((r, cr))` =
    * number of (anchor, neighbor) pairs where the neighbor sits at exact
    * rank r (1-based, the (cos desc, id asc) total order) and its cell
    * at probe rank cr; cr = 0 marks pairs whose neighbor never matched a
    * probed cell (tombstoned-away — they count toward the denominator,
    * never the numerator, exactly as the per-contract histogram did). */
  private[ml] final case class JointHist(kCap: Int, counts: Map[(Int, Int), Long])

  /** A [[JointHist]] with what it was derived from, which a link-append
    * grow of its artifact needs to derive the grown histogram from the
    * delta alone ([[grownState]]):
    *  - `anchors`: the anchor rows (surrogate id, embedding);
    *  - `lists(s)`: the exact top-kCap (cos, id) of the s-th distinct
    *    anchor id ([[slotsOf]]), best first, and `cellRank(s)` the probe
    *    rank of every cell for it;
    *  - `cells`: the cell-table cells of every listed neighbour,
    *    tombstoned ones included — a grow reads the sidecar afresh;
    *  - `files`: the `assigned` part files those cells were read from.
    *    A grow hardlinks them all, and a compaction replaces some, so a
    *    missing one tells a grow that `cells` no longer hold;
    *  - `parent`: the artifact it was grown from, None when it was
    *    scored over the whole corpus.
    * The lists stay in the session rather than in the artifact: at
    * 128 × 64 pairs they would outweigh every other calibration
    * record. */
  private[ml] final case class HistState(hist: JointHist,
      anchors: Array[(Long, Array[Float])], lists: Array[Array[(Double, Long)]],
      cellRank: Array[Map[Int, Int]], cells: Map[Long, Array[Int]],
      files: Set[String], parent: Option[String])

  /** One histogram per (index dir, anchor-rule, rank cap) and session:
    * the bench session calibrates SEVEN contracts against the embeddings
    * corpus (k = 3/4/6/10/12/32/40), and before r18 each paid its own
    * exact-top-k cross join + routing pass + histogram job — ~6 s × 7 of
    * identical work on a cold index (the driver's fresh-container runs
    * measured `_shared_build:ann_geometry` at 19-46 s). The contracts
    * share the anchor rule (same nAnchors => same deterministic sample),
    * and recall@k(p) is a prefix sum of the joint histogram (top-k is a
    * PREFIX of top-kCap under the total order — TopKProps' prefix
    * property), so one pass serves them all bit-identically and each
    * additional contract is driver-side arithmetic. A plain memo, not a
    * shared artifact: it runs inside the `ann_geometry` build, which
    * prices it, and is keyed by the artifact directory that build
    * resolved. An entry a grow derived a child from is dropped: the
    * child supersedes it, and the parent's record rebuilds it. */
  private val histMemo =
    new graft.util.SessionCache[(String, Int, Int), HistState]()

  /** The session's histogram state for an artifact, if one was derived. */
  private[ml] def histState(spark: SparkSession, indexPath: String,
      nAnchors: Int, kCap: Int): Option[HistState] =
    histMemo.get(spark, (indexPath, nAnchors, kCap))

  /** Rank cap for a contract's k: one shared 64-deep histogram covers
    * every registered contract (max k = 40); a deeper k rounds up to the
    * next power of two so rare deep contracts share among themselves. */
  private[ml] def capFor(k: Int): Int = {
    var cap = 64
    while (cap < k) cap *= 2
    cap
  }

  /** Minimal nProbe meeting the contract: a prefix-sum walk over the
    * memoized joint histogram — recall(p) = |pairs with exact_rank <= k
    * and 1 <= cell_rank <= p| / |pairs with exact_rank <= k|, monotone in
    * p by construction. At p == c the probe is exhaustive, so the walk
    * always terminates with a passing width (or the tombstoned-away
    * fallback at p == c, as before).
    *
    * The histogram of a link-append grow is derived from its parent's
    * state when this session holds it ([[grownState]]); every other
    * artifact is scored over the whole corpus ([[scratchState]]), over
    * the anchors it records when it records them. Either way the
    * artifact ends up recording its anchors. */
  private def calibrate(spark: SparkSession, indexPath: String,
      grow: Option[IvfIndex.LinkGrow], corpus: => DataFrame, idCol: String,
      embCol: String, c: Int, contract: Contract): Calibrated = {
    val (nAnchors, kCap) = (contract.nAnchors, capFor(contract.k))
    val jh = histMemo.getOrElseUpdate(spark, (indexPath, nAnchors, kCap)) {
      val recorded = readAnchors(indexPath, nAnchors)
      val files = assignedFiles(indexPath)
      val grown = for {
        g <- grow
        parent <- histMemo.get(spark, (g.parent, nAnchors, kCap))
        st <- grownState(spark, parent, g, indexPath, idCol, embCol,
          recorded, files)
      } yield {
        histMemo.remove(spark, (g.parent, nAnchors, kCap))
        st
      }
      val st = grown.getOrElse(scratchState(spark,
        IvfIndex.load(spark, indexPath), corpus, idCol, embCol, c, nAnchors,
        kCap, recorded, files))
      if (recorded.isEmpty) writeAnchors(indexPath, nAnchors, slotsOf(st.anchors)._1)
      st
    }.hist
    val k = contract.k
    // toSeq first: collecting (cr, n) pairs straight off the Map would
    // REBUILD a map and silently overwrite same-cr entries from
    // different exact ranks instead of summing them
    val pairs = jh.counts.toSeq
    val exactCount = pairs.collect {
      case ((r, _), n) if r <= k => n
    }.sum.toDouble
    require(exactCount > 0, "cannot calibrate IVF geometry: corpus has " +
      "no searchable (non-zero-norm) vectors")
    // per-probe-width increments for THIS k (cr = 0 = never-probed pairs
    // stay out of every numerator)
    val byCr = pairs.collect {
      case ((r, cr), n) if r <= k && cr >= 1 => (cr, n)
    }.groupBy(_._1).map { case (cr, xs) => cr -> xs.map(_._2).sum }
    var cum = 0L
    var hi = c
    var hiRecall = 0.0
    var p = 1
    var found = false
    while (p <= c) {
      cum += byCr.getOrElse(p, 0L)
      val r = cum / exactCount
      if (!found && r >= contract.targetRecall) { hi = p; hiRecall = r; found = true }
      if (p == c && !found) { hi = c; hiRecall = r } // tombstoned-away
      p += 1
    }
    Calibrated(new IvfIndex(c, hi), hiRecall)
  }

  /** [[JointHist]] from four driver-collected jobs and no shuffle. The
    * r18 spelling — a broadcast cross join, a grouped top-k and two
    * joins, ~15 AQE jobs — is the test-scope oracle `JointHistOracle`,
    * which `IvfGeometrySpec` holds this equal to, map for map:
    *
    *  1. count the searchable rows, then collect the ≤ nAnchors anchors
    *     (hash-strided, id-ordered — the rule below) to the driver;
    *  2. ONE pass over the searchable corpus ([[scoreInto]]);
    *  3. one collect of the cell table (plus the tombstone sidecar, so
    *     the live filter needs no join) restricted to the ≤ nAnchors·kCap
    *     neighbour ids, with the centroid table beside it
    *     ([[neighbourRows]]);
    *  4. on the driver: every anchor's cell ranks under the routing
    *     order (cell_score desc, cell asc), then the per-pair MIN cell
    *     rank and the histogram ([[histOf]]).
    *
    * Why the histogram is recall: an exact neighbour n of anchor q is
    * returned by a width-p search IFF rank(q, cell(n)) <= p. (<=: ranks
    * 1..p are exactly the probed cells, and n — globally top-k by the
    * total order — survives the top-k cut of ANY candidate subset
    * containing it. =>: an unprobed cell's rows are never candidates.)
    * So recall@k(p) is a prefix sum of the (exact_rank, cell_rank)
    * histogram, bit-identical to recallAt(p) of the search path. The
    * MIN over a neighbour's cells (ADVICE r18) keeps a duplicated id in
    * the cell table (append/LWW races, surrogate collision) from
    * inflating recall: it is "found via the earliest probed cell holding
    * it" — identical on healthy data — and a neighbour with no live cell
    * (tombstoned away) lands in the cr = 0 bucket, counted in the
    * denominator only. */
  private[ml] def buildJointHist(spark: SparkSession, built: IvfIndex.Built,
      corpus: DataFrame, idCol: String, embCol: String, c: Int,
      nAnchors: Int, kCap: Int): JointHist =
    scratchState(spark, built, corpus, idCol, embCol, c, nAnchors, kCap,
      None, Set.empty).hist

  /** The searchable rows of `df` with their surrogate id `__gid`.
    * Zero-norm vectors are structurally excluded from the index
    * (IvfIndex.prepare drops them) and their cosine is NaN — an exact
    * oracle that kept one would poison its top-k buffer and cap
    * measured recall below any target, breaking the "exhaustive probe
    * passes" termination guarantee. Ids go through a DETERMINISTIC LONG
    * SURROGATE (xxhash64): the store's collections carry STRING keys
    * (the reference's shape) — recall is id-representation-agnostic,
    * and a 64-bit collision (~n²/2⁶⁵) would only perturb one anchor's
    * measured recall. */
  private def searchableOf(df: DataFrame, idCol: String,
      embCol: String): DataFrame =
    df.filter(graft.functions.VectorFunctions.l2Norm(col(embCol)) > 0)
      .withColumn("__gid", xxhash64(col(idCol)))

  /** The distinct anchor ids, and each anchor row's index among them:
    * rows sharing an id (a duplicated corpus key) feed one list, as the
    * grouped aggregate did. */
  private def slotsOf(anchors: Array[(Long, Array[Float])])
      : (Array[Long], Array[Int]) = {
    val gids = anchors.map(_._1).distinct
    (gids, anchors.map(a => gids.indexOf(a._1)))
  }

  /** The histogram state of the artifact `built`, scored over the whole
    * searchable corpus: the anchors are the `recorded` ids' rows when
    * any exist, else the sample below. */
  private def scratchState(spark: SparkSession, built: IvfIndex.Built,
      corpus: DataFrame, idCol: String, embCol: String, c: Int,
      nAnchors: Int, kCap: Int, recorded: Option[Array[Long]],
      files: Set[String]): HistState = {
    val searchable = searchableOf(corpus, idCol, embCol)
    def rowsOf(df: DataFrame) = df.select(col("__gid"), col(embCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // anchor sample: hash-strided so anchors spread over the id space
    // (a head-of-ids sample would sit inside one cluster of a clustered
    // corpus and calibrate on unrepresentative geometry), deterministic
    // (Murmur3 fixed seed + id order), bounded at nAnchors rows. The
    // stride targets ~nAnchors expected survivors ACROSS THE WHOLE id
    // range, so the hard-bound limit trims only a small high-id tail —
    // a wider stride (2x anchors) would make the limit cut the top HALF
    // of the id space out of the sample. The count runs on the RDD: a
    // Dataset count() is an aggregate, whose exchange is a second job.
    def sample() = {
      val n = searchable.queryExecution.toRdd.count()
      // an empty (or all-zero-norm) corpus has no exact oracle rows, so
      // every recall would divide by zero and the sweep would persist a
      // NaN sidecar — fail fast with the actual cause
      require(n > 0, "cannot calibrate IVF geometry: corpus has no " +
        "searchable (non-zero-norm) vectors")
      val stride = math.max(1L, n / nAnchors)
      rowsOf(searchable
        .filter(pmod(hash(col(idCol)), lit(stride)) === 0)
        .orderBy(col(idCol)).limit(nAnchors))
    }
    // a grown corpus keeps its recorded anchors: their rows are still in
    // it, since a link-append only adds source files
    val anchors = recorded
      .map(ids => rowsOf(searchable.filter(col("__gid").isin(ids.toIndexedSeq: _*))))
      .filter(_.nonEmpty)
      .getOrElse(sample())
    val (gids, slot) = slotsOf(anchors)
    val lists = scoreInto(spark, Array.fill(gids.length)(Array.empty),
      anchors, slot, searchable.select(col("__gid"), col(embCol)), kCap)
    val (cells, dead, centroids) = neighbourRows(built.assigned,
      built.tombstones, Some(built.centroids), neighboursOf(lists))
    val cellRank = cellRanks(anchors, slot, gids.length, centroids, c)
    HistState(histOf(kCap, lists, cellRank, cells, dead), anchors, lists,
      cellRank, cells, files, None)
  }

  /** The histogram state of the link-append grow `g`, derived from its
    * parent's: the parent's anchors scored against the delta rows only
    * and merged into the parent's lists ([[scoreInto]]); the cells of
    * the delta's neighbours read off the rows the append wrote, which
    * [[Quantizer.cellOf]] assigned against the frozen centroids, and the
    * tombstoned neighbours off the grown artifact's sidecar, in one
    * collect; the parent's cell ranks as they were, the centroids being
    * frozen. Two jobs, whatever the corpus size. None — the caller then
    * scores from scratch — unless the grown artifact records the
    * parent's anchors and still holds every part file the parent's
    * cells were read from (a compaction in between rewrites some). */
  private def grownState(spark: SparkSession, parent: HistState,
      g: IvfIndex.LinkGrow, indexPath: String, idCol: String, embCol: String,
      recorded: Option[Array[Long]], files: Set[String]): Option[HistState] = {
    val (gids, slot) = slotsOf(parent.anchors)
    if (!recorded.exists(_.toSet == gids.toSet) || !parent.files.subsetOf(files))
      None
    else {
      val kCap = parent.hist.kCap
      val lists = scoreInto(spark, parent.lists, parent.anchors, slot,
        searchableOf(g.delta, idCol, embCol).select(col("__gid"), col(embCol)),
        kCap)
      val need = neighboursOf(lists)
      val idSchema = StructType(Seq(g.assigned.schema("id").copy(nullable = true)))
      val (deltaCells, dead, _) = neighbourRows(g.assigned,
        IndexCache.readTombstones(spark, indexPath, Some(idSchema)), None, need)
      val none = Array.empty[Int]
      val cells = need.iterator.map(id => id ->
        (parent.cells.getOrElse(id, none) ++ deltaCells.getOrElse(id, none)))
        .filter(_._2.nonEmpty).toMap
      Some(HistState(histOf(kCap, lists, parent.cellRank, cells, dead),
        parent.anchors, lists, parent.cellRank, cells, files, Some(g.parent)))
    }
  }

  /** THE scoring pass, for a whole corpus and for a grow's delta alike:
    * each anchor's exact top-kCap (cos, id) over the rows already scored
    * (`lists`, empty for a whole corpus) and the (surrogate id,
    * embedding) `rows` together. Each task keeps a bounded top-kCap
    * buffer per anchor id, ordered (cos desc, gid asc) by the
    * [[TopKHeap]] the SQL top-k aggregate uses (same ties, NaN skipped)
    * and scored with the one cosine kernel `cosine_similarity` also
    * runs; the driver merges the buffers into `lists` — a bounded local
    * top-k per task, merged once (REPOSE's distributed top-k shape).
    * Merging into `lists` is exact: the top-kCap of a union is the
    * top-kCap of its two sides' top-kCap lists under one total order
    * (the prefix property TopKProps pins). A corpus of fewer scan
    * partitions than the default parallelism is scanned once per group
    * of anchors, one task per (group, partition), so every core scores:
    * one job, and no shuffle. */
  private def scoreInto(spark: SparkSession,
      lists: Array[Array[(Double, Long)]], anchors: Array[(Long, Array[Float])],
      slot: Array[Int], rows: DataFrame, kCap: Int): Array[Array[(Double, Long)]] = {
    val rdd = rows.queryExecution.toRdd
    val parts = math.max(1, rdd.getNumPartitions)
    val groups = math.max(1, math.min(lists.length,
      (spark.sparkContext.defaultParallelism + parts - 1) / parts))
    val scored = spark.sparkContext.union((0 until groups).map { g =>
      val mine = anchors.indices.filter(i => slot(i) % groups == g).toArray
      val qEmb = mine.map(i => anchors(i)._2)
      val qSlot = mine.map(slot)
      val slots = qSlot.distinct
      val local = qSlot.map(s => slots.indexOf(s))
      rdd.mapPartitions { it =>
        val q = qEmb.map(e => UnsafeArrayData.fromPrimitiveArray(e): ArrayData)
        val heaps = Array.fill(slots.length)(new TopKHeap(kCap))
        it.foreach { r =>
          val id = r.getLong(0)
          val e = r.getArray(1)
          var i = 0
          while (i < q.length) {
            heaps(local(i)).insert(VectorKernels.cosine(q(i), e), id)
            i += 1
          }
        }
        Iterator.single(slots.zip(heaps))
      }
    })
    val heaps = lists.map { l =>
      val h = new TopKHeap(kCap)
      l.foreach { case (s, id) => h.insert(s, id) }
      h
    }
    scored.collect().foreach(_.foreach { case (s, h) => heaps(s).absorb(h) })
    // index p of a drained list is exact rank p + 1 under the
    // (cos desc, id asc) total order, and a contract's depth-k exact
    // set is ranks <= k — the prefix property (TopKProps) that lets
    // one kCap-deep pass serve every contract
    heaps.map { h =>
      val (s, ids, m) = h.drainSortedDesc()
      Array.tabulate(m)(p => (s(p), ids(p)))
    }
  }

  private def neighboursOf(lists: Array[Array[(Double, Long)]]): Set[Long] =
    lists.iterator.flatMap(_.iterator.map(_._2)).toSet

  /** ONE collect: the cells of `cellRows` ((id, cell) rows) whose
    * surrogate id is in `need`, the ids of `need` on the tombstone
    * sidecar (IndexCache.live's anti-join, applied on the driver), and,
    * when given, the centroid table's rows, which come back with a null
    * id. The id filter is a closure over the id set, not an `isin` of up
    * to 8k literals that the analyzer and optimizer would walk on every
    * rule pass. */
  private def neighbourRows(cellRows: DataFrame, tombstones: Option[DataFrame],
      centroids: Option[DataFrame], need: Set[Long])
      : (Map[Long, Array[Int]], Set[Long], Array[(Int, ArrayData)]) = {
    val isNeighbour = udf((id: Long) => need(id))
    val rows = (cellRows.select(xxhash64(col("id")).as("id"), col("cell"),
        lit(false).as("dead")) +:
      tombstones.toSeq.map(_.select(xxhash64(col("id")).as("id"),
        lit(-1).as("cell"), lit(true).as("dead"))))
      .reduce(_ unionByName _)
      .filter(isNeighbour(col("id")))
    val (centroidRows, hits) = centroids.fold(rows)(t => rows.unionByName(
        t.select(col("cell"), col("centroid")), allowMissingColumns = true))
      .collect().partition(_.isNullAt(0))
    val (deadRows, cellHits) = hits.partition(_.getBoolean(2))
    (cellHits.groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getInt(1)) },
      deadRows.map(_.getLong(0)).toSet,
      centroidRows.map(r => (r.getInt(1),
        UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](3).toArray): ArrayData)))
  }

  /** Cell ranks per anchor id: the routing top-c under (cell_score desc,
    * cell asc) of every distinct (id, embedding) anchor row, with a
    * duplicated row scored once per copy as the grouped aggregate did; a
    * cell's rank for an id is its min over that id's rows. */
  private def cellRanks(anchors: Array[(Long, Array[Float])], slot: Array[Int],
      nSlots: Int, centroids: Array[(Int, ArrayData)], c: Int): Array[Map[Int, Int]] = {
    val ranks = Array.fill(nSlots)(scala.collection.mutable.HashMap.empty[Int, Int])
    anchors.indices.groupBy(i => (anchors(i)._1, anchors(i)._2.toSeq)).values
      .foreach { copies =>
        val q = UnsafeArrayData.fromPrimitiveArray(anchors(copies.head)._2)
        val h = new TopKHeap(c)
        for ((cell, cent) <- centroids; _ <- copies)
          h.insert(VectorKernels.cosine(q, cent), cell.toLong)
        val (_, cells, m) = h.drainSortedDesc()
        val r = ranks(slot(copies.head))
        (0 until m).foreach { p =>
          val cell = cells(p).toInt
          r(cell) = math.min(r.getOrElse(cell, Int.MaxValue), p + 1)
        }
      }
    ranks.map(_.toMap)
  }

  /** The histogram: each listed pair at (exact rank, the MIN probe rank
    * over its neighbour's cells), or cell rank 0 when the neighbour is
    * tombstoned or in no cell. */
  private def histOf(kCap: Int, lists: Array[Array[(Double, Long)]],
      cellRank: Array[Map[Int, Int]], cells: Map[Long, Array[Int]],
      dead: Set[Long]): JointHist = {
    val counts = scala.collection.mutable.HashMap.empty[(Int, Int), Long]
    for (s <- lists.indices; ((_, nb), r0) <- lists(s).zipWithIndex) {
      val crs =
        if (dead(nb)) Array.empty[Int]
        else cells.getOrElse(nb, Array.empty[Int]).flatMap(cellRank(s).get)
      val key = (r0 + 1, if (crs.isEmpty) 0 else crs.min)
      counts(key) = counts.getOrElse(key, 0L) + 1
    }
    JointHist(kCap, counts.toMap)
  }

  /** The visible part files of an artifact's `assigned` table, by path
    * below it. Part-file names are unique per write, and a grow
    * hardlinks its parent's under the same names. */
  private def assignedFiles(indexPath: String): Set[String] = {
    val root = new java.io.File(indexPath, "assigned").toPath
    IndexCache.dataFiles(root.toString)
      .map(f => root.relativize(f.toPath).toString).toSet
  }
}
