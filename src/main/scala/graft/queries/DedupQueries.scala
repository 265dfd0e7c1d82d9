package graft.queries

import graft.QueryPack
import graft.functions.{MinHashSignals, TopKByScore}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators over `documents` — the core LLM-training-data
 * pipeline family: exact dedup, MinHash+LSH near-dup, SimHash, n-gram
 * Jaccard similarity search, and embedding-cosine near-dup.
 *
 * The corpus has no real duplicates, so the exact/near-dup queries build
 * a deterministic duplicated corpus *from the data itself*: exact copies
 * (dedup_exact) and drop-first-token variants (dedup_near_minhash) are
 * unioned in with offset ids — the operator then has real work to find.
 *
 * Scale design (the part that matters at 100 TB):
 *  - dedup_exact is a single hash aggregation on a 128-bit content hash —
 *    partial-agg friendly, one shuffle, no pairwise work;
 *  - dedup_near_minhash NEVER forms the O(N^2) pair space: MinHash
 *    signatures (8 sigs from portable md5-seeded shingle hashes) are
 *    banded (4 bands x 2 rows) and only documents sharing a band key are
 *    joined, then verified with exact Jaccard. This is the textbook
 *    LSH-banding plan; the band join is an equi-join Spark shuffles on
 *    band key. (MLlib's MinHashLSH in graft.ml is the library variant;
 *    this one is expressed in pure SQL so the oracle can replicate it.)
 *  - dedup_simhash is map-only per document;
 *  - dedup_jaccard_topk bounds pairwise work by blocking (same lang) and
 *    keeps top-k via the bounded TopKByScore partial aggregate;
 *  - dedup_embedding_pairs_bruteforce is the all-pairs baseline kept ONLY
 *    for oracle verification and is fenced as such — see its scaladoc; the
 *    scale path is the LSH/IVF module in graft.ml.
 */
object DedupQueries extends QueryPack {

  // Shingle/MinHash/Jaccard formulas live in the shared
  // graft.functions.MinHashSignals (the streaming screen probes the same
  // definitions); see its scaladoc for the short-doc guard, the md5-chunk
  // signature design, and the materialize-tokens-first perf invariant.
  private def toksOf(c: Column): Column = MinHashSignals.toks(c)

  private def shinglesFromToks(tk: Column): Column =
    MinHashSignals.shinglesFromToks(tk)

  private def minhash(shingles: Column, j: Int): Column =
    MinHashSignals.minhash(shingles, j)

  /** n-bit SimHash string over pre-materialized columns `h` (token-md5
    * array) and `nt` (its size): bit p = majority vote of md5 nibble p's
    * MSB across tokens, multiplicity preserved. The columns MUST be real
    * columns (not inlined md5s) — the n bit expressions reference them
    * 2n times. (dedup_simhash_hamming needs 64 bits and builds them via
    * explode + per-bit count aggregation instead — at that width the
    * interpreted filter() lambdas here become the dominant query cost.) */
  private def simhashOf(nBits: Int): Column = {
    val msbNibbles = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    concat((1 to nBits).map { p =>
      when(size(filter(col("h"), x => substring(x, p, 1).isInCollection(msbNibbles)))
        * 2 > col("nt"), lit("1")).otherwise(lit("0"))
    }: _*)
  }

  private def jaccard(a: Column, b: Column): Column =
    MinHashSignals.jaccard(a, b)

  /** The LSH-banded, Jaccard-verified near-dup pair set shared by
    * dedup_near_minhash (emits the pairs) and dedup_components (treats
    * them as edges). Columns: a_id, b_id, jac (round6, >= 0.5). */
  /** The deterministic duplicated corpus the near-dup family operates
    * on: originals plus drop-first-token variants at doc_id + 100000.
    * Shared by pair generation AND by the keep-best stage so both score
    * the same documents. Columns: doc_id, txt. */
  private def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val tk = toksOf(col("text"))
    d.select(col("doc_id"), trim(col("text")).as("txt"))
      .unionByName(d.select((col("doc_id") + 100000).as("doc_id"),
        concat_ws(" ", slice(tk, lit(2), greatest(size(tk) - 1, lit(0)))).as("txt")))
  }

  /** One verified near-dup pair table per documents table: three
    * queries consume the identical LSH-banded, Jaccard-verified edge set
    * (dedup_near_minhash emits it, dedup_components and
    * dedup_cluster_keep_best treat it as edges), so the band join +
    * verify ran up to 3x per Verify/Bench session for the same rows.
    * At 100 TB this IS the design: the pair table is a persisted
    * artifact of the dedup index job, not a per-query scan. */
  private def verifiedNearDupPairsCached(s: SparkSession, dir: String): DataFrame =
    graft.util.SharedArtifact(s, "near_dup_pairs", Seq(s"$dir/documents.parquet"),
      ())(verifiedNearDupPairs(s, dir).localCheckpoint())

  private def verifiedNearDupPairs(s: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(s, dir)
    // Materialize the signature table once and cut its lineage: it is
    // consumed three times (band melt + both verification sides), and at
    // 100 TB it would be a persisted table built by the index job —
    // localCheckpoint is the single-job analog of that design.
    val sh = spread(corpus, "doc_id")
      .withColumn("toks", toksOf(col("txt")))
      .select(col("doc_id"), shinglesFromToks(col("toks")).as("shingles"))
      .localCheckpoint()
    val withBands = sh.select(col("doc_id"), col("shingles"),
      posexplode(array((0 until 4).map(b =>
        concat(minhash(col("shingles"), 2 * b),
          minhash(col("shingles"), 2 * b + 1))): _*))
        .as(Seq("band_id", "band_key")))
    val a = withBands.select(col("band_id"), col("band_key"), col("doc_id").as("a_id"))
    val b = withBands.select(col("band_id"), col("band_key"), col("doc_id").as("b_id"))
    val cand = a.join(b, Seq("band_id", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    val sa = sh.select(col("doc_id").as("a_id"), col("shingles").as("sh_a"))
    val sb = sh.select(col("doc_id").as("b_id"), col("shingles").as("sh_b"))
    cand.join(sa, "a_id").join(sb, "b_id")
      .select(col("a_id"), col("b_id"),
        round6(jaccard(col("sh_a"), col("sh_b"))).as("jac"))
      .filter(col("jac") >= 0.5)
  }

  override def queries: Map[String, Q] = Map(
    // Exact dedup: normalized-content hash -> group -> canonical id + copies.
    "dedup_exact" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      val corpus = d.select(col("doc_id"), norm.as("txt"))
        .unionByName(d.filter(col("doc_id") < 100)
          .select((col("doc_id") + 100000).as("doc_id"), norm.as("txt")))
      corpus
        .select(col("doc_id"), md5(col("txt").cast("binary")).as("content_fp"))
        .groupBy(col("content_fp"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("content_fp"))
    }),

    // MinHash + LSH banding near-dup: candidates via band join, verified
    // with exact Jaccard >= 0.5.
    "dedup_near_minhash" -> ((s, dir) =>
      verifiedNearDupPairsCached(s, dir).orderBy(col("a_id"), col("b_id"))),

    // INCREMENTAL dedup — the ingest-time form every continuously-fed
    // corpus needs: a new batch dedups against the already-ingested
    // reference WITHOUT rescanning it pairwise. Reference = docs with
    // id < 400 (standing corpus, fingerprints assumed materialized in
    // the real pipeline); new batch = docs 400+ plus re-keyed copies of
    // 0..49 (known exact dupes). One left join on the dedup_exact
    // normalization fingerprint answers "seen before?", a keep-first
    // window answers "duplicated within the batch?" — at 100 TB that is
    // one shuffle of the BATCH (small) against the reference
    // fingerprint table keyed on fp, never a pairwise build and never
    // broadcast (the reference fp set is corpus-sized). Emits the full
    // admission verdict per new doc.
    // INCREMENTAL NEAR-dup — the fuzzy companion of dedup_incremental:
    // a new batch is screened against the STANDING corpus for near-
    // duplicates (drop-first-token variants of reference docs land in
    // the batch as known positives). Same banded-MinHash plan as
    // dedup_near_minhash, but the band join is batch-bands x REFERENCE-
    // bands — at 100 TB the reference band table is the persisted
    // artifact of the standing index job (localCheckpoint is its
    // single-job analog) and the join shuffles the SMALL batch against
    // it; no batch-internal or reference-internal pairs are ever formed.
    // Verdict per batch doc: best verified reference match (highest
    // Jaccard, ties to the smallest reference id) or admission.
    "dedup_incremental_near" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tk = toksOf(col("text"))
      val ref = d.filter(col("doc_id") < 400)
        .select(col("doc_id"), trim(col("text")).as("txt"))
      val batch = d.filter(col("doc_id") >= 400)
        .select(col("doc_id"), trim(col("text")).as("txt"))
        .unionByName(d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat_ws(" ", slice(tk, lit(2), greatest(size(tk) - 1, lit(0)))).as("txt")))
      def sig(df: DataFrame) = spread(df, "doc_id")
        .withColumn("toks", toksOf(col("txt")))
        .select(col("doc_id"), shinglesFromToks(col("toks")).as("shingles"))
        .localCheckpoint()
      def bands(sh: DataFrame, idAs: String) = sh.select(col("doc_id").as(idAs),
        posexplode(array((0 until 4).map(b =>
          concat(minhash(col("shingles"), 2 * b),
            minhash(col("shingles"), 2 * b + 1))): _*))
          .as(Seq("band_id", "band_key")))
      val shRef = sig(ref)
      val shB = sig(batch)
      val cand = bands(shB, "b_id")
        .join(bands(shRef, "r_id"), Seq("band_id", "band_key"))
        .select(col("b_id"), col("r_id")).distinct()
      val verified = cand
        .join(shB.select(col("doc_id").as("b_id"), col("shingles").as("sh_b")), "b_id")
        .join(shRef.select(col("doc_id").as("r_id"), col("shingles").as("sh_r")), "r_id")
        .select(col("b_id"), col("r_id"),
          round6(jaccard(col("sh_b"), col("sh_r"))).as("jac"))
        .filter(col("jac") >= 0.5)
      val best = verified.groupBy("b_id")
        .agg(max(struct(col("jac"), (-col("r_id")).as("neg_r"))).as("m"))
        .select(col("b_id").as("doc_id"), (-col("m.neg_r")).as("best_ref_id"),
          col("m.jac").as("best_jac"))
      batch.select(col("doc_id"))
        .join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), col("best_ref_id"), col("best_jac"),
          col("best_jac").isNotNull.as("near_dup_of_ref"))
        .orderBy(col("doc_id"))
    }),

    "dedup_incremental" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      val fp = md5(norm.cast("binary"))
      val ref = d.filter(col("doc_id") < 400)
        .select(fp.as("fp")).distinct().withColumn("in_ref", lit(true))
      val batch = d.filter(col("doc_id") >= 400)
        .select(col("doc_id"), fp.as("fp"))
        .unionByName(d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 100000).as("doc_id"), fp.as("fp")))
      val wB = Window.partitionBy("fp").orderBy("doc_id")
      batch.join(ref, Seq("fp"), "left")
        .withColumn("rn", row_number().over(wB))
        .select(col("doc_id"), col("fp").as("content_fp"),
          coalesce(col("in_ref"), lit(false)).as("dup_of_reference"),
          (col("rn") > 1).as("dup_within_batch"))
        .withColumn("admit",
          !col("dup_of_reference") && !col("dup_within_batch"))
        .orderBy(col("doc_id"))
    }),

    // Near-dup CLUSTERS: the graph-closure step a real dedup pipeline
    // runs after pair generation. Pairs are edges; connected components
    // give one cluster per transitive near-dup family; the member with
    // the minimum doc_id is the canonical survivor (`keep`), everything
    // else is dropped. Min-label propagation converges in O(cluster
    // diameter) rounds — near-dup clusters are shallow (a doc and its
    // variants), so 2-3 rounds in practice; a long-chain graph would
    // want the large-star/small-star variant (O(log n) rounds), which
    // this loop structure accommodates. Per-round cost is one equi-join
    // + partial-agg min — no pairwise or driver-side work; labels
    // converge to the component minimum regardless of partitioning, so
    // the result is deterministic.
    "dedup_components" -> ((s, dir) => {
      val pairs = verifiedNearDupPairsCached(s, dir).select(col("a_id"), col("b_id"))
      graft.ml.ConnectedComponents.run(pairs, "a_id", "b_id")
        .select(col("component_id"), col("id").as("doc_id"))
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy(col("component_id"))))
        .withColumn("keep", col("doc_id") === col("component_id"))
        .orderBy(col("component_id"), col("doc_id"))
    }),

    // Cluster representative selection — the decision step after
    // clustering: within each near-dup component KEEP the member with
    // the best quality score (ties to the lower doc_id), drop the rest.
    // This is how a real pipeline picks survivors (highest-quality copy,
    // not merely lowest id). One shuffle on component_id serves both the
    // member count and the argmax window; the quality signal is the
    // shared TextSignals formula, scored over the SAME corpus the pair
    // stage saw, so kept_quality is oracle-exact.
    "dedup_cluster_keep_best" -> ((s, dir) => {
      val pairs = verifiedNearDupPairsCached(s, dir).select(col("a_id"), col("b_id"))
      val members = graft.ml.ConnectedComponents.run(pairs, "a_id", "b_id")
        .select(col("component_id"), col("id").as("doc_id"))
      val quality = nearDupCorpus(s, dir)
        .withColumn("toks", toksOf(col("txt")))
        .select(col("doc_id"),
          round6(graft.functions.TextSignals.qualityFromToks(col("toks"))).as("q"))
      val byComp = Window.partitionBy(col("component_id"))
      members.join(quality, "doc_id")
        .withColumn("n_members", count(lit(1)).over(byComp))
        .withColumn("rk", row_number().over(
          byComp.orderBy(col("q").desc, col("doc_id"))))
        .filter(col("rk") === 1)
        .select(col("component_id"), col("doc_id").as("kept_id"),
          col("q").as("kept_quality"), col("n_members"))
        .orderBy(col("component_id"))
    }),

    // Span-level (substring) duplication: pairs of documents sharing
    // >= 3 distinct 8-token grams. Catches what SET similarity cannot:
    // a 20-token excerpt quoted inside an otherwise-unrelated document
    // has Jaccard ~0.1 against its source (far below any near-dup
    // threshold) but matches 13 consecutive 8-grams — the
    // "deduplicating training data" substring-dup case. Scale shape:
    // one gram-hash equi-join, NEVER doc-to-doc text comparison, with a
    // document-frequency cap (grams in > 8 docs are boilerplate "stop
    // grams") bounding per-gram join fan-out at any corpus size.
    "dedup_span_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tk = toksOf(col("text"))
      // originals + 20-token excerpts (tokens 6..25) of the first long docs
      val corpus = d.select(col("doc_id"), trim(col("text")).as("txt"))
        .unionByName(d.filter(size(tk) >= 25 && col("doc_id") < 60)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat_ws(" ", slice(tk, lit(6), lit(20))).as("txt")))
      // distinct 8-grams per doc; consumed by the df agg AND both join
      // sides -> materialize once (the persisted gram table at scale)
      val grams = spread(corpus, "doc_id")
        .withColumn("toks", toksOf(col("txt")))
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"), explode(array_distinct(transform(
          sequence(lit(1), size(col("toks")) - 7),
          i => md5(concat_ws(" ", slice(col("toks"), i, lit(8))).cast("binary")))))
          .as("gram"))
        .localCheckpoint()
      val rare = grams.groupBy(col("gram"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= 8)
        .select(col("gram"))
      val g = grams.join(rare, "gram")
      g.select(col("gram"), col("doc_id").as("a_id"))
        .join(g.select(col("gram"), col("doc_id").as("b_id")), "gram")
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("n_shared_grams"))
        .filter(col("n_shared_grams") >= 3)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ASYMMETRIC containment — the metric Jaccard near-dup misses: a
    // 20-token excerpt inside a 300-token original has Jaccard ≈ 0.04
    // (invisible to every resemblance cut above) but containment 1.0.
    // Containment(a ⊆ b) = |g(a)∩g(b)| / |g(a)| over the RARE distinct
    // 8-gram sets (numerator and denominator both post-df-cap, so the
    // stop-gram cut cannot skew the ratio) — the Broder 1997 distinction
    // between resemblance and containment, and the reason quote/excerpt
    // dedup needs its own query. Scale shape identical to
    // dedup_span_overlap: one gram equi-join with df-bounded fan-out,
    // plus a broadcast-sized per-doc gram-count table; the planted
    // excerpts must surface with containment exactly 1.0.
    "dedup_containment" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tk = toksOf(col("text"))
      val corpus = d.select(col("doc_id"), trim(col("text")).as("txt"))
        .unionByName(d.filter(size(tk) >= 25 && col("doc_id") < 60)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat_ws(" ", slice(tk, lit(6), lit(20))).as("txt")))
      val grams = spread(corpus, "doc_id")
        .withColumn("toks", toksOf(col("txt")))
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"), explode(array_distinct(transform(
          sequence(lit(1), size(col("toks")) - 7),
          i => md5(concat_ws(" ", slice(col("toks"), i, lit(8))).cast("binary")))))
          .as("gram"))
        .localCheckpoint()
      val rare = grams.groupBy(col("gram"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= 8)
        .select(col("gram"))
      val g = grams.join(rare, "gram")
      val sizes = g.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      val inter = g.select(col("gram"), col("doc_id").as("a_id"))
        .join(g.select(col("gram"), col("doc_id").as("b_id")), "gram")
        .filter(col("a_id") =!= col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("n_shared"))
      inter
        .join(sizes.select(col("doc_id").as("a_id"),
          col("n_grams").as("n_grams_contained")), "a_id")
        .withColumn("containment",
          round6(col("n_shared") / col("n_grams_contained")))
        .filter(col("containment") >= 0.8 && col("n_grams_contained") >= 5)
        .select(col("a_id").as("contained_id"), col("b_id").as("container_id"),
          col("n_shared"), col("n_grams_contained"), col("containment"))
        .orderBy(col("contained_id"), col("container_id"))
    }),

    // Duplicated-span EXTENTS — the substring-dedup shape of Lee et al.
    // 2022 ("Deduplicating Training Data Makes Language Models Better"):
    // not just WHETHER two docs share copied material
    // (dedup_span_overlap) but WHERE and HOW LONG, so the pipeline can
    // excise the span instead of dropping a whole document. Positional
    // 8-gram hashes matched across docs; a shared substring of n tokens
    // is exactly a run of n-7 consecutive gram matches at a CONSTANT
    // position offset, so runs fall out of the islands trick over
    // (pair, pa - pb) groups — `pa - row_number()` is constant precisely
    // on consecutive matches. Per qualifying pair (run >= 5 grams = a
    // 12+-token copy), the longest extent: token start in both docs +
    // span length. Scale shape: the positional gram table is the
    // token-sized artifact a substring-dedup job persists; the
    // doc-frequency cap bounds join fan-out exactly as in
    // dedup_span_overlap; island windows key on (pair, diff) — bounded
    // groups, never a global sort. The planted 20-token excerpts are
    // recovered exactly: span_tokens = 20 at a_start = 6, b_start = 1.
    "dedup_span_extents" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val tk = toksOf(col("text"))
      val corpus = d.select(col("doc_id"), trim(col("text")).as("txt"))
        .unionByName(d.filter(size(tk) >= 25 && col("doc_id") < 60)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat_ws(" ", slice(tk, lit(6), lit(20))).as("txt")))
      // POSITIONAL 8-grams — position matters, so no array_distinct
      val grams = spread(corpus, "doc_id")
        .withColumn("toks", toksOf(col("txt")))
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(1), size(col("toks")) - 7),
          i => md5(concat_ws(" ", slice(col("toks"), i, lit(8))).cast("binary")))))
        .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("gram"))
        .localCheckpoint()
      val rare = grams.groupBy(col("gram"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") <= 8).select(col("gram"))
      val g = grams.join(rare, "gram")
      val hits = g.select(col("gram"), col("doc_id").as("a_id"), col("p").as("pa"))
        .join(g.select(col("gram"), col("doc_id").as("b_id"), col("p").as("pb")),
          "gram")
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), col("pa"), col("pb"),
          (col("pa") - col("pb")).as("diff"))
      val wIsl = Window.partitionBy(col("a_id"), col("b_id"), col("diff"))
        .orderBy(col("pa"))
      val runs = hits.withColumn("isl", col("pa") - row_number().over(wIsl))
        .groupBy(col("a_id"), col("b_id"), col("diff"), col("isl"))
        .agg(count(lit(1)).as("n_grams"),
          min(col("pa")).as("a_start"), min(col("pb")).as("b_start"))
        .filter(col("n_grams") >= 5)
      val best = Window.partitionBy(col("a_id"), col("b_id"))
        .orderBy(col("n_grams").desc, col("a_start"), col("b_start"))
      runs.withColumn("rk", row_number().over(best)).filter(col("rk") === 1)
        .select(col("a_id"), col("b_id"), col("a_start"), col("b_start"),
          (col("n_grams") + 7).as("span_tokens"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // 16-bit SimHash per document from token-md5 nibble MSBs (majority
    // vote per bit position, token multiplicity preserved).
    "dedup_simhash" -> ((s, dir) =>
      spread(t(s, dir, "documents"), "doc_id")
        .withColumn("toks", toksOf(col("text")))
        .withColumn("h", transform(col("toks"), tk => md5(tk.cast("binary"))))
        .withColumn("nt", size(col("h")))
        .select(col("doc_id"), simhashOf(16).as("simhash"))
        .orderBy(col("doc_id"))),

    // SimHash near-dup PAIRS by hamming distance — the pairing step the
    // fingerprint exists for (Charikar/Manku-style web dedup): pairs
    // within hamming <= 2 of a 64-bit simhash, found via PIGEONHOLE
    // banding: 4 bands of 16 bits; any pair differing in <= 3 bits
    // leaves >= 1 band untouched, so candidates meeting on a band
    // equi-key lose NO qualifying pair (the all-pairs oracle proves it)
    // while the verify set stays bucket-bounded. The hash lives in two
    // BIGINT halves, so the verify is two xor + bit_count ops per
    // candidate (not 64 string compares) and band keys are integer
    // shifts — the representation a 100 TB fingerprint table would use.
    // Calibration note: 8-bit bands on this small-vocabulary corpus put
    // 65% of docs in one bucket (29.6M candidates); 16-bit bands cut
    // that to 2.1M with max bucket 8% — band width must clear the
    // corpus's bit-correlation floor.
    "dedup_simhash_hamming" -> ((s, dir) => {
      // Hash build avoids interpreted HOF lambdas (64 filter() passes
      // per doc benched ~7s of the query alone): explode to one row per
      // token, parse the 32 hex digits with THREE conv() calls (15+15+2
      // chars, each <= 60 bits so the string->long cast never
      // overflows — 32 per-nibble conv(substring) calls benched 7.2s vs
      // 2.9s for this form, bit-identical hashes), extract nibbles as
      // integer shift+mask, reduce per-bit majority counts in one
      // partial-agg pass, repack.
      def nib(p: Int): Column =
        if (p <= 15)
          shiftright(col("hA"), 4 * (15 - p)).bitwiseAND(lit(15L)).cast("int")
        else if (p <= 30)
          shiftright(col("hB"), 4 * (30 - p)).bitwiseAND(lit(15L)).cast("int")
        else
          shiftright(col("hC"), 4 * (32 - p)).bitwiseAND(lit(15L)).cast("int")
      val nibs = (1 to 32).map(p => nib(p).as(s"n$p"))
      val bitCounts = (1 to 32).flatMap(p => Seq(
        sum(when(col(s"n$p") >= 8, 1).otherwise(0)).as(s"msb$p"),
        sum(when(col(s"n$p").bitwiseAND(lit(4)) =!= 0, 1).otherwise(0)).as(s"b2$p")))
      val aggs = bitCounts :+ count(lit(1)).as("nt")
      def pack(pfx: String) = (1 to 32).map(p =>
        when(col(s"$pfx$p") * 2 > col("nt"), lit(1L << (32 - p)))
          .otherwise(lit(0L))).reduce(_ + _)
      // simhash table consumed 3x (band melt + both verify sides)
      val sh = spread(nearDupCorpus(s, dir), "doc_id")
        .select(col("doc_id"), explode(toksOf(col("txt"))).as("tk"))
        .select(col("doc_id"), md5(col("tk").cast("binary")).as("m"))
        .select(col("doc_id"),
          conv(substring(col("m"), 1, 15), 16, 10).cast("long").as("hA"),
          conv(substring(col("m"), 16, 15), 16, 10).cast("long").as("hB"),
          conv(substring(col("m"), 31, 2), 16, 10).cast("long").as("hC"))
        .select(col("doc_id") +: nibs: _*)
        .groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
        .select(col("doc_id"), pack("msb").as("h1"), pack("b2").as("h2"))
        .localCheckpoint()
      // hashes ride the band join, the 2-xor verify runs on candidates
      // WITH multiplicity, and dedup happens only on the few survivors —
      // a distinct on the raw candidate set would shuffle millions of
      // pairs to save re-verifies that cost two integer ops each (the
      // CosineLsh distinct-after-filter rule)
      val bands = sh.select(col("doc_id"), col("h1"), col("h2"),
        posexplode(array(
          shiftright(col("h1"), 16).bitwiseAND(lit(65535L)),
          col("h1").bitwiseAND(lit(65535L)),
          shiftright(col("h2"), 16).bitwiseAND(lit(65535L)),
          col("h2").bitwiseAND(lit(65535L))))
          .as(Seq("band_id", "band_key")))
      bands.select(col("band_id"), col("band_key"), col("doc_id").as("a_id"),
          col("h1").as("a1"), col("h2").as("a2"))
        .join(bands.select(col("band_id"), col("band_key"),
          col("doc_id").as("b_id"), col("h1").as("b1"), col("h2").as("b2")),
          Seq("band_id", "band_key"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          (bit_count(col("a1").bitwiseXOR(col("b1"))) +
            bit_count(col("a2").bitwiseXOR(col("b2")))).cast("int").as("ham"))
        .filter(col("ham") <= 2)
        .distinct()
        .orderBy(col("a_id"), col("b_id"))
    }),

    // n-gram Jaccard similarity search: for each probe doc, top-3 most
    // similar same-lang docs (blocked pairwise + bounded top-k aggregate).
    "dedup_jaccard_topk" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val sh = spread(d, "doc_id")
        .withColumn("toks", toksOf(col("text")))
        .select(col("doc_id"), col("lang"), shinglesFromToks(col("toks")).as("shingles"))
        .localCheckpoint()
      val probes = sh.filter(col("doc_id") < 20)
        .select(col("doc_id").as("q_id"), col("lang"),
          col("shingles").as("q_shingles"))
      sh.join(broadcast(probes), Seq("lang"))
        .filter(col("doc_id") =!= col("q_id"))
        .select(col("q_id"), col("doc_id"),
          round6(jaccard(col("shingles"), col("q_shingles"))).as("jac"))
        .groupBy(col("q_id"))
        .agg(TopKByScore(3)(col("jac"), col("doc_id")).as("hits"))
        .select(col("q_id"), posexplode(col("hits")))
        .select(col("q_id"), (col("pos") + 1).as("rank"),
          col("col.id").as("doc_id"), col("col.score").as("jac"))
        .orderBy(col("q_id"), col("rank"))
    }),

    // Fuzzy near-dup pairs by edit distance, two-stage:
    //  1. CANDIDATES — banded levenshtein over 80-char prefixes
    //     (threshold arg → O(len·k) DP that bails at 20 edits, not
    //     O(len²)) within EQUI-JOIN length blocks: docs join on
    //     (lang, length-bucket) with one side exploded to its 3 neighbor
    //     buckets, so candidates-with-|Δchars|≤20 all meet on an equi
    //     key — no within-lang cross join at any scale;
    //  2. VERIFY — the (small) candidate set fetches FULL texts by id
    //     and rescores with the banded DP on the whole string, so two
    //     documents identical for 80 chars then divergent do NOT pair
    //     (the r5 fidelity gap): the emitted dist is the full-string
    //     edit distance. The oracle is the simple declarative form
    //     (lang join + |Δ| + prefix prefilter + full levenshtein), so
    //     equality also proves the neighbor-bucket blocking loses no
    //     pairs.
    //
    // Two perf lessons pinned here (60s → ~3s at sf0.1 local[4]):
    //  - spread() the streamed side: the byte-small scan plans 1-2
    //    partitions and the small build side broadcasts, so WITHOUT the
    //    repartition every banded-DP evaluation ran on 1-2 cores;
    //  - the DP is the dominant cost and is linear in the threshold
    //    (O(len·(2t+1)) cells + early bail): threshold 45 on an 80-char
    //    prefix is 56% edits — not "near"-dup by any definition — and
    //    costs 2.2x the DP of the tight t=20 bound.
    "dedup_fuzzy_levenshtein" -> ((s, dir) => {
      val Band = 20
      val docs = spread(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          substring(col("text"), 1, 80).as("p"),
          floor(col("n_chars") / Band).as("bk"))
      // pin BOTH sides' partitioning on the join keys (r17): the band
      // join's own exchange is ~100 KB, so AQE's min-partition-size
      // floor folded it to one partition and the candidate prefix-DP —
      // this query's entire budget, ~257k bounded DPs at sf0.1 — ran
      // single-core. User-pinned counts are exempt from coalescing, and
      // matching (keys, count) on both sides means the join adds NO
      // further exchange, so the DP inherits the full-width layout.
      val slots = s.sparkContext.defaultParallelism
      val a = docs.select(col("doc_id").as("a_id"), col("lang"),
        col("n_chars").as("a_n"), col("p").as("a_p"),
        explode(array(col("bk") - 1, col("bk"), col("bk") + 1)).as("jb"))
        .repartition(slots, col("lang"), col("jb"))
      val b = docs.select(col("doc_id").as("b_id"), col("lang"),
        col("n_chars").as("b_n"), col("p").as("b_p"), col("bk").as("jb"))
        .repartition(slots, col("lang"), col("jb"))
      val cand = a.join(b, Seq("lang", "jb"))
        .filter(col("a_id") < col("b_id") &&
          abs(col("a_n") - col("b_n")) <= Band)
        .withColumn("pdist", levenshtein(col("a_p"), col("b_p"), 20))
        .filter(col("pdist") >= 0)
        .select(col("a_id"), col("b_id"))
      // full-string verify: id-join fetch of the candidates' texts (the
      // candidate set is pairs-of-near-dups sized, orders below the
      // corpus) + one banded DP each on the whole string
      val txt = t(s, dir, "documents").select(col("doc_id"), col("text"))
      cand
        .join(txt.select(col("doc_id").as("a_id"), col("text").as("a_t")), "a_id")
        .join(txt.select(col("doc_id").as("b_id"), col("text").as("b_t")), "b_id")
        .withColumn("dist", levenshtein(col("a_t"), col("b_t"), 20))
        .filter(col("dist") >= 0)
        .select(col("a_id"), col("b_id"), col("dist"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Semantic dedup, SemDeDup-style (Abbas et al. 2023, arXiv:2303.09540):
    // partition the embedding space into clusters, then within each
    // cluster drop every vector that has a semantically-near
    // earlier-by-id neighbor. The two-level structure is the whole point
    // at scale — the pairwise cosine work is confined to single clusters,
    // so the pair join's fan-out is bounded by cluster size, never O(N²).
    //
    // Clustering here is one deterministic assignment pass against seed
    // vectors (the NSeeds lowest ids) so the DuckDB oracle can replicate
    // it exactly; the production path is graft.ml.IvfIndex.semanticDedup
    // (the identical prune over the index's own k-means cells, tombstone-
    // aware, spec-pinned by IndexAppendSpec). Keep rule: a vector
    // survives iff NO earlier same-cluster vector is within Tau cosine
    // (the single-pass "dominated-by-any-earlier" variant; the reference
    // greedy that re-checks only against SURVIVORS is inherently
    // sequential per cluster and prunes strictly less).
    //
    // Scale shape: assignment = broadcast-seeds scored per row + partial
    // argmax agg (no wide shuffle); prune = one equi-join on cluster id
    // with a_id < b_id + one distinct + one left-anti — all key-partition
    // friendly. Cluster count grows with the corpus (k ≈ N/target_size),
    // keeping per-cluster pair fan-out constant at any scale.
    "dedup_semantic" -> ((s, dir) => {
      val NSeeds = 8
      val Tau = 0.4
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < NSeeds)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_emb"))
      val assigned = spread(emb, "vec_id")
        .select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(seeds))
        .select(col("vec_id"),
          round6(graft.functions.VectorFunctions.cosineSim(
            col("embedding"), col("seed_emb"))).as("cos"),
          col("seed_id"))
        .groupBy(col("vec_id"))
        .agg(TopKByScore(1)(col("cos"), col("seed_id")).as("best"))
        .select(col("vec_id"),
          element_at(col("best.id"), 1).as("cluster"))
      val m = assigned.join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      val a = m.select(col("cluster"), col("vec_id").as("a_id"),
        col("embedding").as("emb_a"))
      val b = m.select(col("cluster"), col("vec_id").as("b_id"),
        col("embedding").as("emb_b"))
      val victims = a.join(b, Seq("cluster"))
        .filter(col("a_id") < col("b_id"))
        .filter(round6(graft.functions.VectorFunctions.cosineSim(
          col("emb_a"), col("emb_b"))) >= Tau)
        .select(col("b_id").as("vec_id")).distinct()
      assigned
        .join(victims.withColumn("removed", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"),
          coalesce(!col("removed"), lit(true)).as("kept"))
        .orderBy(col("vec_id"))
    }),

    // ==== FENCED: O(N^2) baseline — never lift into a pipeline. ====
    // Embedding-cosine near-dup pairs as an all-pairs nested-loop join,
    // kept ONLY because an exact pair set is DuckDB-oracle-checkable and
    // anchors the LSH recall specs. The production path at any real scale
    // is graft.ml.CosineLsh.similarPairs (bucketed, recall-pinned), run
    // by ann_cosine_pairs. The _bruteforce suffix is the fence.
    "dedup_embedding_pairs_bruteforce" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // spread the streamed side of the fenced O(N²/2) baseline (r17)
      val a = spread(e, "vec_id")
        .select(col("vec_id").as("a_id"), col("embedding").as("emb_a"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("emb_b"))
      a.join(b, col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          round6(graft.functions.VectorFunctions.cosineSim(col("emb_a"), col("emb_b")))
            .as("score"))
        .filter(col("score") >= 0.4)
        .orderBy(col("a_id"), col("b_id"))
    })
  )

  private val round6 = graft.QueryPack.round6Sql _

  override def oracleSql: Map[String, String] = {
    val toksSql = "string_split_regex(trim(txt), '\\s+')"
    val shExpr = s"list_distinct(list_transform(range(1, len($toksSql) - 1), " +
      s"i -> md5(array_to_string($toksSql[i:i+2], ' '))))"
    def mh(j: Int) = s"list_min(list_transform(shingles, s -> substr(s, ${4 * j + 1}, 4)))"
    val sigBands = (0 until 4).map(b => s"${mh(2 * b)} || ${mh(2 * b + 1)} AS band$b")
      .mkString(", ")
    val jacSql = "coalesce(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) / " +
      "nullif(len(list_distinct(sa.shingles || sb.shingles)), 0), 0.0)"

    // The banded + verified pair set, shared verbatim by the pair query
    // and the connected-components query (mirrors verifiedNearDupPairs).
    val nearDupPairsCte =
      s"""WITH RECURSIVE corpus AS (
         |  SELECT doc_id, trim(text) AS txt FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000,
         |    array_to_string(string_split_regex(trim(text),'\\s+')[2:], ' ')
         |  FROM documents
         |), sh AS (
         |  SELECT doc_id, $shExpr AS shingles FROM corpus
         |), bands AS (
         |  SELECT doc_id, shingles, $sigBands FROM sh
         |), melted AS (
         |  SELECT doc_id, unnest(range(4)) AS band_id,
         |    unnest([band0, band1, band2, band3]) AS band_key
         |  FROM bands
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM melted a JOIN melted b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |   AND a.doc_id < b.doc_id
         |), pairs AS (
         |  SELECT c.a_id, c.b_id, ${round6(jacSql)} AS jac
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.a_id
         |  JOIN sh sb ON sb.doc_id = c.b_id
         |  WHERE ${round6(jacSql)} >= 0.5
         |)""".stripMargin

    Map(
      "dedup_fuzzy_levenshtein" ->
        """WITH docs AS (
          |  SELECT doc_id, lang, n_chars, text, substr(text, 1, 80) AS p
          |  FROM documents
          |)
          |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |  levenshtein(a.text, b.text) AS dist
          |FROM docs a JOIN docs b
          |  ON a.lang = b.lang AND a.doc_id < b.doc_id
          | AND abs(a.n_chars - b.n_chars) <= 20
          |WHERE levenshtein(a.p, b.p) <= 20
          |  AND levenshtein(a.text, b.text) <= 20
          |ORDER BY a_id, b_id""".stripMargin,
      "dedup_incremental" ->
        """WITH norm AS (
          |  SELECT doc_id,
          |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
          |  FROM documents
          |), ref AS (
          |  SELECT DISTINCT fp FROM norm WHERE doc_id < 400
          |), batch AS (
          |  SELECT doc_id, fp FROM norm WHERE doc_id >= 400
          |  UNION ALL
          |  SELECT doc_id + 100000, fp FROM norm WHERE doc_id < 50
          |), j AS (
          |  SELECT b.doc_id, b.fp,
          |    (r.fp IS NOT NULL) AS dup_of_reference,
          |    row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
          |  FROM batch b LEFT JOIN ref r ON b.fp = r.fp
          |)
          |SELECT doc_id, fp AS content_fp, dup_of_reference,
          |  rn > 1 AS dup_within_batch,
          |  (NOT dup_of_reference) AND NOT (rn > 1) AS admit
          |FROM j ORDER BY doc_id""".stripMargin,
      "dedup_incremental_near" -> {
        val jacBr = "coalesce(CAST(len(list_intersect(sb.shingles, sr.shingles)) " +
          "AS DOUBLE) / nullif(len(list_distinct(sb.shingles || sr.shingles)), 0), 0.0)"
        s"""WITH ref AS (
           |  SELECT doc_id, trim(text) AS txt FROM documents WHERE doc_id < 400
           |), batch AS (
           |  SELECT doc_id, trim(text) AS txt FROM documents WHERE doc_id >= 400
           |  UNION ALL
           |  SELECT doc_id + 100000,
           |    array_to_string(string_split_regex(trim(text),'\\s+')[2:], ' ')
           |  FROM documents WHERE doc_id < 50
           |), shr AS (
           |  SELECT doc_id, $shExpr AS shingles FROM ref
           |), shb AS (
           |  SELECT doc_id, $shExpr AS shingles FROM batch
           |), mr AS (
           |  SELECT doc_id, unnest(range(4)) AS band_id,
           |    unnest([band0, band1, band2, band3]) AS band_key
           |  FROM (SELECT doc_id, $sigBands FROM shr)
           |), mb AS (
           |  SELECT doc_id, unnest(range(4)) AS band_id,
           |    unnest([band0, band1, band2, band3]) AS band_key
           |  FROM (SELECT doc_id, $sigBands FROM shb)
           |), cand AS (
           |  SELECT DISTINCT b.doc_id AS b_id, r.doc_id AS r_id
           |  FROM mb b JOIN mr r
           |    ON b.band_id = r.band_id AND b.band_key = r.band_key
           |), ver AS (
           |  SELECT c.b_id, c.r_id, ${round6(jacBr)} AS jac
           |  FROM cand c
           |  JOIN shb sb ON sb.doc_id = c.b_id
           |  JOIN shr sr ON sr.doc_id = c.r_id
           |  WHERE ${round6(jacBr)} >= 0.5
           |), ranked AS (
           |  SELECT b_id, r_id, jac,
           |    row_number() OVER (PARTITION BY b_id ORDER BY jac DESC, r_id ASC) AS rn
           |  FROM ver
           |)
           |SELECT b.doc_id, k.r_id AS best_ref_id, k.jac AS best_jac,
           |  k.jac IS NOT NULL AS near_dup_of_ref
           |FROM batch b LEFT JOIN ranked k ON b.doc_id = k.b_id AND k.rn = 1
           |ORDER BY b.doc_id""".stripMargin
      },
      "dedup_exact" ->
        """WITH corpus AS (
          |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS txt
          |  FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000, regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
          |  FROM documents WHERE doc_id < 100
          |)
          |SELECT md5(txt) AS content_fp, min(doc_id) AS canonical_id,
          |  count(*) AS n_copies
          |FROM corpus GROUP BY content_fp ORDER BY content_fp""".stripMargin,
      "dedup_near_minhash" ->
        s"""$nearDupPairsCte
           |SELECT a_id, b_id, jac FROM pairs ORDER BY a_id, b_id""".stripMargin,
      // Edges -> transitive closure (recursive CTE) -> per-vertex min
      // reachable id = the component label the Spark label-propagation
      // loop converges to.
      "dedup_components" ->
        s"""$nearDupPairsCte, sym AS (
           |  SELECT a_id AS src, b_id AS dst FROM pairs
           |  UNION
           |  SELECT b_id, a_id FROM pairs
           |), reach AS (
           |  SELECT src, dst FROM sym
           |  UNION
           |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
           |  WHERE s.dst <> r.src
           |), comp AS (
           |  SELECT src AS doc_id, least(src, min(dst)) AS component_id
           |  FROM reach GROUP BY src
           |)
           |SELECT component_id, doc_id,
           |  count(*) OVER (PARTITION BY component_id) AS n_members,
           |  doc_id = component_id AS keep
           |FROM comp ORDER BY component_id, doc_id""".stripMargin,
      // Components (recursive-CTE closure, as dedup_components) joined
      // to the shared quality formula; argmax by (quality DESC, doc_id).
      "dedup_cluster_keep_best" -> {
        val toks = "string_split_regex(trim(txt), '\\s+')"
        val n = "CAST(len(toks) AS DOUBLE)"
        val stopRatio = "(CAST(len(list_filter(toks, t -> t IN " +
          s"('the','a','and','of','to','in'))) AS DOUBLE) / $n)"
        val meanLen = s"(CAST(length(array_to_string(toks, '')) AS DOUBLE) / $n)"
        val q = round6(
          s"least($n / 200.0, 1.0) * 0.5 + least($stopRatio * 5.0, 1.0) * 0.3 + " +
            s"least($meanLen / 8.0, 1.0) * 0.2")
        s"""$nearDupPairsCte, sym AS (
           |  SELECT a_id AS src, b_id AS dst FROM pairs
           |  UNION
           |  SELECT b_id, a_id FROM pairs
           |), reach AS (
           |  SELECT src, dst FROM sym
           |  UNION
           |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
           |  WHERE s.dst <> r.src
           |), comp AS (
           |  SELECT src AS doc_id, least(src, min(dst)) AS component_id
           |  FROM reach GROUP BY src
           |), qual AS (
           |  SELECT doc_id, $q AS q
           |  FROM (SELECT doc_id, $toks AS toks FROM corpus)
           |), ranked AS (
           |  SELECT c.component_id, c.doc_id, qual.q,
           |    count(*) OVER (PARTITION BY c.component_id) AS n_members,
           |    row_number() OVER (PARTITION BY c.component_id
           |                       ORDER BY qual.q DESC, c.doc_id) AS rk
           |  FROM comp c JOIN qual USING (doc_id)
           |)
           |SELECT component_id, doc_id AS kept_id, q AS kept_quality, n_members
           |FROM ranked WHERE rk = 1 ORDER BY component_id""".stripMargin
      },
      "dedup_containment" -> {
        val r6 = graft.QueryPack.round6Sql _
        s"""WITH corpus AS (
           |  SELECT doc_id, trim(text) AS txt FROM documents
           |  UNION ALL
           |  SELECT doc_id + 200000,
           |    array_to_string(string_split_regex(trim(text), '\\s+')[6:25], ' ')
           |  FROM documents
           |  WHERE len(string_split_regex(trim(text), '\\s+')) >= 25 AND doc_id < 60
           |), gr AS (
           |  SELECT doc_id, unnest(list_distinct(list_transform(
           |    range(1, len(toks) - 6),
           |    i -> md5(array_to_string(toks[i:i+7], ' '))))) AS gram
           |  FROM (SELECT doc_id, string_split_regex(trim(txt), '\\s+') AS toks
           |        FROM corpus)
           |  WHERE len(toks) >= 8
           |), rare AS (
           |  SELECT gram FROM gr GROUP BY gram HAVING count(*) <= 8
           |), g AS (
           |  SELECT gr.doc_id, gr.gram FROM gr JOIN rare USING (gram)
           |), sizes AS (
           |  SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id
           |), inter AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
           |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id
           |  GROUP BY 1, 2
           |)
           |SELECT i.a_id AS contained_id, i.b_id AS container_id,
           |  i.n_shared, s.n_grams AS n_grams_contained,
           |  ${r6("i.n_shared / s.n_grams")} AS containment
           |FROM inter i JOIN sizes s ON s.doc_id = i.a_id
           |WHERE ${r6("i.n_shared / s.n_grams")} >= 0.8 AND s.n_grams >= 5
           |ORDER BY contained_id, container_id""".stripMargin
      },
      "dedup_span_overlap" ->
        s"""WITH corpus AS (
           |  SELECT doc_id, trim(text) AS txt FROM documents
           |  UNION ALL
           |  SELECT doc_id + 200000,
           |    array_to_string(string_split_regex(trim(text), '\\s+')[6:25], ' ')
           |  FROM documents
           |  WHERE len(string_split_regex(trim(text), '\\s+')) >= 25 AND doc_id < 60
           |), gr AS (
           |  SELECT doc_id, unnest(list_distinct(list_transform(
           |    range(1, len(toks) - 6),
           |    i -> md5(array_to_string(toks[i:i+7], ' '))))) AS gram
           |  FROM (SELECT doc_id, string_split_regex(trim(txt), '\\s+') AS toks
           |        FROM corpus)
           |  WHERE len(toks) >= 8
           |), rare AS (
           |  SELECT gram FROM gr GROUP BY gram HAVING count(*) <= 8
           |)
           |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |  count(*) AS n_shared_grams
           |FROM gr a
           |JOIN rare USING (gram)
           |JOIN gr b ON a.gram = b.gram AND a.doc_id < b.doc_id
           |GROUP BY 1, 2 HAVING count(*) >= 3
           |ORDER BY a_id, b_id""".stripMargin,
      "dedup_span_extents" ->
        s"""WITH corpus AS (
           |  SELECT doc_id, trim(text) AS txt FROM documents
           |  UNION ALL
           |  SELECT doc_id + 200000,
           |    array_to_string(string_split_regex(trim(text), '\\s+')[6:25], ' ')
           |  FROM documents
           |  WHERE len(string_split_regex(trim(text), '\\s+')) >= 25 AND doc_id < 60
           |), gl AS (
           |  SELECT doc_id, list_transform(range(1, len(toks) - 6),
           |    i -> md5(array_to_string(toks[i:i+7], ' '))) AS gs
           |  FROM (SELECT doc_id, string_split_regex(trim(txt), '\\s+') AS toks
           |        FROM corpus)
           |  WHERE len(toks) >= 8
           |), gr AS (
           |  SELECT doc_id, CAST(generate_subscripts(gs, 1) AS INTEGER) AS p,
           |    unnest(gs) AS gram
           |  FROM gl
           |), rare AS (
           |  SELECT gram FROM gr GROUP BY gram
           |  HAVING count(DISTINCT doc_id) <= 8
           |), hits AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.p AS pa, b.p AS pb,
           |    a.p - b.p AS diff
           |  FROM gr a
           |  JOIN rare USING (gram)
           |  JOIN gr b ON a.gram = b.gram AND a.doc_id < b.doc_id
           |), runs AS (
           |  SELECT a_id, b_id, diff,
           |    pa - row_number() OVER (PARTITION BY a_id, b_id, diff
           |                            ORDER BY pa) AS isl,
           |    pa, pb
           |  FROM hits
           |), ext AS (
           |  SELECT a_id, b_id, count(*) AS n_grams,
           |    min(pa) AS a_start, min(pb) AS b_start
           |  FROM runs GROUP BY a_id, b_id, diff, isl
           |  HAVING count(*) >= 5
           |), best AS (
           |  SELECT a_id, b_id, a_start, b_start, n_grams + 7 AS span_tokens,
           |    row_number() OVER (PARTITION BY a_id, b_id
           |                       ORDER BY n_grams DESC, a_start, b_start) AS rk
           |  FROM ext
           |)
           |SELECT a_id, b_id, a_start, b_start, span_tokens
           |FROM best WHERE rk = 1
           |ORDER BY a_id, b_id""".stripMargin,
      "dedup_simhash" -> {
        val hashes = "list_transform(string_split_regex(trim(text), '\\s+'), t -> md5(t))"
        val bits = (1 to 16).map { p =>
          s"CASE WHEN 2 * len(list_filter(h, x -> substr(x, $p, 1) IN " +
            s"('8','9','a','b','c','d','e','f'))) > len(h) THEN '1' ELSE '0' END"
        }.mkString(" || ")
        s"""WITH hs AS (SELECT doc_id, $hashes AS h FROM documents)
           |SELECT doc_id, $bits AS simhash FROM hs ORDER BY doc_id""".stripMargin
      },
      // All-pairs hamming (the naive form) — equality with the banded
      // Spark plan proves the pigeonhole blocking loses no pair. Same
      // packed-BIGINT representation, so the pair scan is xor+bit_count.
      "dedup_simhash_hamming" -> {
        def half(ones: String) = (1 to 32).map { p =>
          s"CASE WHEN 2 * len(list_filter(h, x -> substr(x, $p, 1) IN " +
            s"($ones))) > len(h) THEN ${1L << (32 - p)} ELSE 0 END"
        }.mkString(" + ")
        val msb = "'8','9','a','b','c','d','e','f'"
        val bit2 = "'4','5','6','7','c','d','e','f'"
        s"""WITH corpus AS (
           |  SELECT doc_id, trim(text) AS txt FROM documents
           |  UNION ALL
           |  SELECT doc_id + 100000,
           |    array_to_string(string_split_regex(trim(text),'\\s+')[2:], ' ')
           |  FROM documents
           |), hs AS (
           |  SELECT doc_id,
           |    list_transform(string_split_regex(trim(txt), '\\s+'), t -> md5(t)) AS h
           |  FROM corpus
           |), sh AS MATERIALIZED (
           |  SELECT doc_id, CAST(${half(msb)} AS BIGINT) AS h1,
           |    CAST(${half(bit2)} AS BIGINT) AS h2
           |  FROM hs
           |)
           |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |  CAST(bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2))
           |    AS INTEGER) AS ham
           |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) <= 2
           |ORDER BY a_id, b_id""".stripMargin
      },
      "dedup_jaccard_topk" -> {
        val shDoc = shExpr.replace("txt", "text")
        s"""WITH sh AS (
           |  SELECT doc_id, lang, $shDoc AS shingles FROM documents
           |), scored AS (
           |  SELECT p.doc_id AS q_id, d.doc_id,
           |    ${round6(("coalesce(CAST(len(list_intersect(d.shingles, p.shingles)) AS DOUBLE) / " +
                "nullif(len(list_distinct(d.shingles || p.shingles)), 0), 0.0)"))} AS jac
           |  FROM sh p JOIN sh d ON p.lang = d.lang AND d.doc_id <> p.doc_id
           |  WHERE p.doc_id < 20
           |), ranked AS (
           |  SELECT q_id, doc_id, jac,
           |    row_number() OVER (PARTITION BY q_id ORDER BY jac DESC, doc_id) AS rank
           |  FROM scored
           |)
           |SELECT q_id, rank, doc_id, jac FROM ranked WHERE rank <= 3
           |ORDER BY q_id, rank""".stripMargin
      },
      "dedup_embedding_pairs_bruteforce" -> {
        val cos = "list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), " +
          "CAST(b.embedding AS DOUBLE[]))"
        s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id, ${round6(cos)} AS score
           |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           |WHERE ${round6(cos)} >= 0.4
           |ORDER BY a_id, b_id""".stripMargin
      },

      "dedup_semantic" -> {
        val cosES = "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), " +
          "CAST(s.embedding AS DOUBLE[]))"
        val cosAB = "list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), " +
          "CAST(eb.embedding AS DOUBLE[]))"
        s"""WITH sc AS (
           |  SELECT e.vec_id, s.vec_id AS seed_id, ${round6(cosES)} AS cos
           |  FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) s
           |), asg AS (
           |  SELECT vec_id, seed_id AS cluster FROM (
           |    SELECT vec_id, seed_id,
           |      row_number() OVER (PARTITION BY vec_id
           |                         ORDER BY cos DESC, seed_id) AS rn
           |    FROM sc) WHERE rn = 1
           |), victims AS (
           |  SELECT DISTINCT b.vec_id
           |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           |  JOIN embeddings ea ON ea.vec_id = a.vec_id
           |  JOIN embeddings eb ON eb.vec_id = b.vec_id
           |  WHERE ${round6(cosAB)} >= 0.4
           |)
           |SELECT g.vec_id, g.cluster,
           |  (v.vec_id IS NULL) AS kept
           |FROM asg g LEFT JOIN victims v ON g.vec_id = v.vec_id
           |ORDER BY g.vec_id""".stripMargin
      }
    )
  }
}
