package graft.ml

import graft.SparkTestBase
import graft.functions.VectorFunctions.cosineSim
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Incremental index maintenance: ingesting a delta must NOT re-fit the
 * quantizer (the upsert steady state at 100 TB is an append-only encode
 * against frozen centroids/codebooks), and search must see the delta.
 *
 * "No re-fit" is asserted through the quantizer tables: a KMeans re-fit
 * over the grown corpus would move the centroids/codebooks (fixed seed,
 * different data), so value-identical quantizer tables prove the append
 * path never fit anything — alongside construction: `append` contains no
 * KMeans call at all.
 */
class IndexAppendSpec extends AnyFunSuite with SparkTestBase {

  private def emb: DataFrame = spark.read.parquet(s"$sf0_001/embeddings.parquet")
  private def baseHalf: DataFrame = emb.filter(col("vec_id") < 400)
  private def deltaHalf: DataFrame = emb.filter(col("vec_id") >= 400)

  private def centroidSet(df: DataFrame): Set[(Int, Seq[Float])] =
    df.collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSet

  test("IvfIndex.semanticDedup: in-cell dominated vectors removed, tombstones excluded") {
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 8)
    // plant exact duplicates: copies of vectors 0..9 at ids 10000+ — same
    // embedding => same cell => dominated at any tau
    val dups = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"), col("label"))
    val built = ivf.build(spark, emb.unionByName(dups), "vec_id", "embedding")
    val verdicts = IvfIndex.semanticDedup(built, tau = 0.9).localCheckpoint()
    // every planted duplicate is removed; its original survives the prune
    assert(verdicts.filter(col("id") >= 10000 && col("kept")).isEmpty)
    assert(verdicts.filter(col("id") < 10 && !col("kept")).isEmpty)
    // keep rule == brute-force within-cell domination, both directions
    val m = verdicts.join(built.live.select(col("id"), col("emb")), Seq("id"))
    val a = m.select(col("cell"), col("id").as("a_id"), col("emb").as("emb_a"))
    val b = m.select(col("cell"), col("id").as("b_id"), col("emb").as("emb_b"),
      col("kept").as("b_kept"))
    val dominated = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id") &&
        cosineSim(col("emb_a"), col("emb_b")) >= 0.9)
      .select(col("b_id").as("id"), col("b_kept")).distinct()
    assert(dominated.filter(col("b_kept")).isEmpty)
    assert(verdicts.filter(!col("kept"))
      .join(dominated, Seq("id"), "left_anti").isEmpty)

    // a tombstoned original no longer shields its duplicate
    val withTomb = built.copy(tombstones =
      Some(built.assigned.sparkSession.range(1).select(lit(3L).as("id"))))
    val v2 = IvfIndex.semanticDedup(withTomb, tau = 0.9)
    assert(v2.filter(col("id") === 3L).isEmpty)          // deleted: no verdict
    assert(!v2.filter(col("id") === 10003L).head.getBoolean(2) ==
      dominatedByOther(built, 10003L))                    // kept unless another neighbor dominates
  }

  /** Whether any live vector with smaller id shares 10003's cell within
    * tau — recomputed brute-force for the tombstone case. */
  private def dominatedByOther(built: IvfIndex.Built, id: Long): Boolean = {
    val m = built.live.join(
      built.assigned.sparkSession.range(1).select(lit(3L).as("id")),
      Seq("id"), "left_anti")
    val target = m.filter(col("id") === id)
      .select(col("cell"), col("emb").as("emb_b"))
    m.join(target, Seq("cell"))
      .filter(col("id") < id && cosineSim(col("emb"), col("emb_b")) >= 0.9)
      .count() > 0
  }

  private def codebookSet(df: DataFrame): Set[(Int, Int, Seq[Double])] =
    df.collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSet

  test("IvfIndex.append: frozen centroids, delta searchable, cells correct") {
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 3)
    val built = ivf.build(spark, baseHalf, "vec_id", "embedding")
    val grown = ivf.append(built, deltaHalf, "vec_id", "embedding")

    // centroids are the SAME DataFrame rows — no re-fit moved them
    assert(centroidSet(grown.centroids) == centroidSet(built.centroids))
    assert(grown.assigned.count() == emb.count())

    // a delta vector is now its own nearest neighbor through the index
    val hit = ivf.search(grown, emb.filter(col("vec_id") === 450),
        "vec_id", "embedding", 1)
      .select("q_id", "neighbor_id", "rank").head()
    assert(hit.getLong(0) == 450L && hit.getLong(1) == 450L && hit.getInt(2) == 1)

    // every appended row sits in its true argmin-distance cell (frozen
    // centroids, squared-euclidean on the unit vector — KMeans' metric)
    val cents = grown.centroids.collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val deltaAssigned = grown.assigned.filter(col("id") >= 400)
      .select("id", "cell", "emb").collect()
    assert(deltaAssigned.length == deltaHalf.count())
    deltaAssigned.foreach { r =>
      val v = r.getSeq[Float](2).map(_.toDouble).toArray
      val n = math.sqrt(v.map(x => x * x).sum)
      val u = v.map(_ / n)
      val best = cents.minBy { case (_, c) =>
        u.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
      }._1
      assert(r.getInt(1) == best, s"vec ${r.getLong(0)} assigned ${r.getInt(1)} != $best")
    }
  }

  test("PqIndex.append: frozen codebooks, delta searchable") {
    val pq = new PqIndex(m = 8, kCentroids = 16)
    val built = pq.build(spark, baseHalf, "vec_id", "embedding")
    val grown = pq.append(built, deltaHalf, "vec_id", "embedding")

    assert(codebookSet(grown.codebooks) == codebookSet(built.codebooks))
    assert(grown.coded.count() == emb.count())

    val hit = pq.search(grown, emb.filter(col("vec_id") === 470),
        "vec_id", "embedding", 1)
      .select("q_id", "neighbor_id", "rank").head()
    assert(hit.getLong(0) == 470L && hit.getLong(1) == 470L && hit.getInt(2) == 1)

    // appended codes equal what a from-scratch encode against the same
    // codebooks produces: encode is deterministic given frozen codebooks
    val again = pq.append(built, deltaHalf, "vec_id", "embedding")
    val a = grown.coded.filter(col("id") >= 400)
      .select("id", "codes").collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val b = again.coded.filter(col("id") >= 400)
      .select("id", "codes").collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(a == b && a.nonEmpty)
  }

  /** Copy the single parquet data file of a Spark-written dataset into
    * `destDir` under `name` (plain visible file — what the incremental
    * fingerprint tracks). */
  private def copyParquetFile(df: DataFrame, destDir: java.io.File, name: String): Unit = {
    val tmp = new java.io.File(scratchDir("graft-append-src"))
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(destDir, name).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  test("openOrBuild appends (no re-fit) when the source only grows, rebuilds on param change") {
    val srcDir = new java.io.File(scratchDir("graft-inc-src"))
    val cacheRoot = scratchDir("graft-inc-cache")
    copyParquetFile(baseHalf, srcDir, "a.parquet")

    val ivf = new IvfIndex(nCentroids = 8, nProbe = 3)
    val first = IvfIndex.openOrBuild(spark, ivf, srcDir.getPath,
      "vec_id", "embedding", cacheRoot)
    assert(first.assigned.count() == baseHalf.count())
    val firstCentroids = centroidSet(first.centroids)

    // grow the source: add a second file, leave the first untouched
    copyParquetFile(deltaHalf, srcDir, "b.parquet")
    val grown = IvfIndex.openOrBuild(spark, ivf, srcDir.getPath,
      "vec_id", "embedding", cacheRoot)
    assert(grown.assigned.count() == emb.count())
    // identical centroid table across the grow — the append path served
    // it without re-fitting (a re-fit over the grown corpus would move
    // the centroids)
    assert(centroidSet(grown.centroids) == firstCentroids)
    // and search through the refreshed index sees the delta
    val hit = ivf.search(grown, emb.filter(col("vec_id") === 480),
        "vec_id", "embedding", 1).select("neighbor_id").head()
    assert(hit.getLong(0) == 480L)

    // param change on the same (grown) source must REBUILD, not append:
    // different k cannot reuse frozen centroids
    val ivf2 = new IvfIndex(nCentroids = 4, nProbe = 2)
    val rebuilt = IvfIndex.openOrBuild(spark, ivf2, srcDir.getPath,
      "vec_id", "embedding", cacheRoot)
    assert(rebuilt.centroids.count() == 4)
    assert(rebuilt.assigned.count() == emb.count())
  }

  test("openOrBuild's disjoint-id append HARDLINKS the published cell table (O(delta) files written)") {
    // r15: the append path already skipped the KMeans re-fit, but still
    // re-shuffled and re-wrote the whole cell table into the new
    // artifact — O(corpus) IO per refresh. With a disjoint-id delta
    // (the store's insert-only refresh shape) the grown artifact now
    // REUSES the published artifact's files via hardlinks and writes
    // only the delta's rows as new files.
    val srcDir = new java.io.File(scratchDir("graft-link-src"))
    val cacheRoot = scratchDir("graft-link-cache")
    copyParquetFile(baseHalf, srcDir, "a.parquet")
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 3)
    def publishedDirs = new java.io.File(cacheRoot).listFiles().toSeq
      .filter(_.isDirectory).map(_.getPath).sorted
    def dataFilesUnder(dir: String): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(dir, "assigned"))
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getParentFile.getName + "/" + f.getName).toSet
    }
    IvfIndex.openOrBuildPath(spark, ivf, srcDir.getPath,
      "vec_id", "embedding", cacheRoot)
    val Seq(path1) = publishedDirs
    val files1 = dataFilesUnder(path1)

    copyParquetFile(deltaHalf, srcDir, "b.parquet")
    val grownPath = IvfIndex.openOrBuildPath(spark, ivf, srcDir.getPath,
      "vec_id", "embedding", cacheRoot)
    assert(grownPath != path1)
    val files2 = dataFilesUnder(grownPath)
    // every published data file survives UNDER ITS OWN NAME (part-file
    // names are job-unique, so name survival proves reuse, not rewrite)
    assert(files1.subsetOf(files2),
      s"published files were rewritten: missing ${(files1 -- files2).take(3)}")
    assert(files2.size > files1.size, "delta files must be appended")
    // and they are the SAME inodes — zero bytes copied
    val sample = files1.head
    def ino(root: String) = java.nio.file.Files.getAttribute(
      new java.io.File(s"$root/assigned/$sample").toPath, "unix:ino")
    assert(ino(path1) == ino(grownPath), "expected a hardlink, got a copy")
    // the grown artifact is complete and searchable
    val grown = IvfIndex.load(spark, grownPath)
    assert(grown.assigned.count() == emb.count())
    assert(ivf.search(grown, emb.filter(col("vec_id") === 480),
        "vec_id", "embedding", 1).select("neighbor_id").head().getLong(0) == 480L)
    assert(centroidSet(grown.centroids) ==
      centroidSet(IvfIndex.load(spark, path1).centroids))
  }

  test("a link-append grow assigns every delta row by Quantizer.cellOf; IVF and IVF-PQ cells agree") {
    // one nearest-centre rule for builds and appends: an appended row's
    // cell is cellOf of its unit vector over the persisted centroid
    // table, and the two families that share those centroids put every
    // appended row in the same cell (the registry requires it)
    val srcDir = new java.io.File(scratchDir("graft-cellof-src"))
    copyParquetFile(baseHalf, srcDir, "a.parquet")
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 3)
    val ivfpq = new IvfPqIndex(nCentroids = 8, nProbe = 3, m = 8, kCentroids = 16)
    val ivfRoot = scratchDir("graft-cellof-ivf")
    val pqRoot = scratchDir("graft-cellof-ivfpq")
    val base = IvfIndex.openOrBuildPath(spark, ivf, srcDir.getPath,
      "vec_id", "embedding", ivfRoot)
    IvfPqIndex.openOrBuildPath(spark, ivfpq, srcDir.getPath,
      "vec_id", "embedding", pqRoot)
    copyParquetFile(deltaHalf, srcDir, "b.parquet")
    val grown = IvfIndex.openOrBuildPath(spark, ivf, srcDir.getPath,
      "vec_id", "embedding", ivfRoot)
    val grownPq = IvfPqIndex.openOrBuildPath(spark, ivfpq, srcDir.getPath,
      "vec_id", "embedding", pqRoot)
    assert(grown != base)
    def cells(df: DataFrame): Map[Long, Int] = df.filter(col("id") >= 400)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the known-schema centroid read is the schema a read infers
    assert(IvfIndex.readCentroids(spark, grown).schema ==
      spark.read.parquet(s"$grown/centroids").schema)
    val centres = IvfIndex.centresOf(IvfIndex.readCentroids(spark, grown))
    val expected = cells(Quantizer.prepare(deltaHalf, "vec_id", "embedding")
      .select(col("id"), Quantizer.cellOf(centres)(col("unit")).as("cell")))
    assert(expected.size == deltaHalf.count())
    assert(cells(spark.read.parquet(s"$grown/assigned")) == expected)
    assert(cells(spark.read.parquet(s"$grownPq/codedCell")) == expected)
  }

  test("an IVF artifact records the schema a read infers for assigned, on a build and both grow forms") {
    // the registry takes `assigned`'s schema from this record where it
    // would otherwise infer it in a footer job
    val srcDir = new java.io.File(scratchDir("graft-schema-src"))
    val cacheRoot = scratchDir("graft-schema-cache")
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 3)
    def open(): String = IvfIndex.openOrBuildPath(spark, ivf, srcDir.getPath,
      "vec_id", "embedding", cacheRoot)
    def assignedFiles(path: String): Set[String] = {
      val root = new java.io.File(path, "assigned").toPath
      java.nio.file.Files.walk(root).toArray.toSeq
        .map(p => root.relativize(p.asInstanceOf[java.nio.file.Path]).toString)
        .filter(_.endsWith(".parquet")).toSet
    }
    def recordsInferred(path: String): Unit = {
      val inferred = org.apache.spark.sql.types.StructType(
        spark.read.parquet(s"$path/assigned").schema.filterNot(_.name == "cell"))
      assert(IvfIndex.assignedSchema(spark, path).contains(inferred),
        s"$path recorded ${IvfIndex.assignedSchema(spark, path)}, a read infers $inferred")
    }
    copyParquetFile(baseHalf, srcDir, "a.parquet")
    val built = open()
    recordsInferred(built)
    copyParquetFile(deltaHalf.filter(col("vec_id") < 450), srcDir, "b.parquet")
    val linked = open()
    assert(assignedFiles(built).subsetOf(assignedFiles(linked)),
      "disjoint ids must take the link-append grow")
    recordsInferred(linked)
    // id 7 again: the rewrite grow
    copyParquetFile(emb.filter(col("vec_id") === 450)
      .withColumn("vec_id", col("vec_id") - 443), srcDir, "c.parquet")
    val rewritten = open()
    assert((assignedFiles(linked) & assignedFiles(rewritten)).isEmpty,
      "an id overlap must take the rewrite grow")
    recordsInferred(rewritten)
  }

  test("hive-partitioned source grows via append even when the id is a partition column (ADVICE r15)") {
    // the r15 recursive fingerprint made partitioned corpora append-
    // eligible; the delta read must keep partition columns visible
    // (basePath) or a corpus partitioned BY its id column throws on the
    // exact refresh path that used to fall back to a full rebuild
    val srcDir = scratchDir("graft-part-src")
    val cacheRoot = scratchDir("graft-part-cache")
    val base = emb.filter(col("vec_id") < 60).select("vec_id", "embedding")
    base.write.partitionBy("vec_id").mode("overwrite").parquet(srcDir)
    val ivf = new IvfIndex(nCentroids = 4, nProbe = 2)
    val first = IvfIndex.openOrBuild(spark, ivf, srcDir,
      "vec_id", "embedding", cacheRoot)
    val firstCentroids = centroidSet(first.centroids)
    // grow: 20 new ids land as NEW partition dirs; every ingested file
    // stays byte-identical, so the manifest-subset append fires
    emb.filter(col("vec_id") >= 60 && col("vec_id") < 80)
      .select("vec_id", "embedding")
      .write.partitionBy("vec_id").mode("append").parquet(srcDir)
    val grown = IvfIndex.openOrBuild(spark, ivf, srcDir,
      "vec_id", "embedding", cacheRoot)
    assert(grown.assigned.count() == 80)
    assert(centroidSet(grown.centroids) == firstCentroids,
      "partitioned growth re-fit the centroids (append path not taken)")
    // the delta rows are assigned and live (id compares type-agnostically:
    // partition inference reads the dir names back as INT)
    assert(grown.live.filter(col("id") === 70).count() == 1)
  }

  test("flat-family appends (PQ, sign) reuse published files too — O(delta) writes") {
    // the r15 hardlink append covers every persisted family: the flat
    // code/signature tables and their bucketed fetch tables EXTEND on a
    // disjoint-id grow instead of rewriting (name survival across
    // job-unique part names proves it)
    def filesUnder(dir: String, table: String): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(dir, table))
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getParentFile.getName + "/" + f.getName).toSet
    }
    def publishedDirs(root: String): Set[String] =
      new java.io.File(root).listFiles().toSeq
        .filter(_.isDirectory).map(_.getPath).toSet

    // PQ (flat coded table + bucketed fetch)
    val pqSrc = new java.io.File(scratchDir("graft-pqlink-src"))
    val pqRoot = scratchDir("graft-pqlink-cache")
    copyParquetFile(baseHalf, pqSrc, "a.parquet")
    val pq = new PqIndex(m = 8, kCentroids = 16)
    PqIndex.openOrBuild(spark, pq, pqSrc.getPath, "vec_id", "embedding", pqRoot)
    val Seq(p1) = publishedDirs(pqRoot).toSeq
    copyParquetFile(deltaHalf, pqSrc, "b.parquet")
    val pqGrown = PqIndex.openOrBuild(spark, pq, pqSrc.getPath,
      "vec_id", "embedding", pqRoot)
    val p2 = (publishedDirs(pqRoot) - p1).head
    Seq("coded", "embById").foreach(t =>
      assert(filesUnder(p1, t).subsetOf(filesUnder(p2, t)),
        s"pq $t was rewritten on a disjoint-id grow"))
    assert(pqGrown.coded.count() == emb.count())
    assert(pq.search(pqGrown, emb.filter(col("vec_id") === 470),
        "vec_id", "embedding", 1)
      .select("neighbor_id").head().getLong(0) == 470L)

    // sign (flat 16-byte signature table + bucketed fetch)
    val sgSrc = new java.io.File(scratchDir("graft-sglink-src"))
    val sgRoot = scratchDir("graft-sglink-cache")
    copyParquetFile(baseHalf, sgSrc, "a.parquet")
    SignIndex.openOrBuild(spark, sgSrc.getPath, "vec_id", "embedding", sgRoot)
    val Seq(s1) = publishedDirs(sgRoot).toSeq
    copyParquetFile(deltaHalf, sgSrc, "b.parquet")
    val sgGrown = SignIndex.openOrBuild(spark, sgSrc.getPath,
      "vec_id", "embedding", sgRoot)
    val s2 = (publishedDirs(sgRoot) - s1).head
    Seq("signs", "embById").foreach(t =>
      assert(filesUnder(s1, t).subsetOf(filesUnder(s2, t)),
        s"sign $t was rewritten on a disjoint-id grow"))
    assert(sgGrown.signs.count() == emb.count())
    assert(sgGrown.signs.filter(col("id") === 470L).count() == 1)
  }

  test("openOrBuild append falls back to the rewrite form on id overlap (LWW preserved)") {
    // links cannot express LWW row replacement — a delta re-ingesting a
    // published id must take IvfIndex.append's anti-join rewrite, or the
    // stale vector would stay live beside the new one
    val srcDir = new java.io.File(scratchDir("graft-lww-src"))
    val cacheRoot = scratchDir("graft-lww-cache")
    copyParquetFile(baseHalf, srcDir, "a.parquet")
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 8)
    val first = IvfIndex.openOrBuild(spark, ivf, srcDir.getPath,
      "vec_id", "embedding", cacheRoot)
    val firstCentroids = centroidSet(first.centroids)
    // delta: id 7 re-ingested with vector 450's embedding + new ids
    val moved = emb.filter(col("vec_id") === 450)
      .select(lit(7L).as("vec_id"), col("embedding"), col("label"))
    copyParquetFile(
      deltaHalf.select(col("vec_id"), col("embedding"), col("label"))
        .unionByName(moved), srcDir, "b.parquet")
    val grown = IvfIndex.openOrBuild(spark, ivf, srcDir.getPath,
      "vec_id", "embedding", cacheRoot)
    assert(grown.assigned.filter(col("id") === 7L).count() == 1,
      "LWW must leave exactly one row for a re-ingested id")
    assert(centroidSet(grown.centroids) == firstCentroids,
      "the rewrite fallback must still append against frozen centroids")
    val top2 = ivf.search(grown, emb.filter(col("vec_id") === 450),
        "vec_id", "embedding", 2)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(top2 == Set(450L, 7L))
  }

  test("append is LWW on id collisions: a delta row replaces the stale vector") {
    // re-ingesting an id must not leave two rows in the index (the stale
    // one could surface as a neighbor, and one id could fill two top-k
    // slots) — the delta side wins, matching the store's upsert semantics
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 8)
    val built = ivf.build(spark, baseHalf, "vec_id", "embedding")
    // delta: id 7 re-ingested with the embedding of vector 450 (a new
    // direction), plus genuinely new ids
    val moved = emb.filter(col("vec_id") === 450)
      .select(lit(7L).as("vec_id"), col("embedding"))
    val delta = deltaHalf.select(col("vec_id"), col("embedding")).unionByName(moved)
    val grown = ivf.append(built, delta, "vec_id", "embedding")
    assert(grown.assigned.filter(col("id") === 7).count() == 1)
    val hit = ivf.search(grown, emb.filter(col("vec_id") === 450),
        "vec_id", "embedding", 2)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    // vector 450's top-2 through the grown index: itself and the moved id 7
    assert(hit == Set(450L, 7L))

    val pq = new PqIndex(m = 8, kCentroids = 16)
    val pqBuilt = pq.build(spark, baseHalf, "vec_id", "embedding")
    val pqGrown = pq.append(pqBuilt, delta, "vec_id", "embedding")
    assert(pqGrown.coded.filter(col("id") === 7).count() == 1)
    assert(pqGrown.embById.filter(col("id") === 7).count() == 1)
    val pqHit = pq.search(pqGrown, emb.filter(col("vec_id") === 450),
        "vec_id", "embedding", 2)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(pqHit == Set(450L, 7L))
  }

  test("tombstone delete + re-add: search reflects both, no re-fit anywhere") {
    import spark.implicits._
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 8)
    val built = ivf.build(spark, emb, "vec_id", "embedding")

    // delete id 450: it must vanish from its own top-1 (which falls to
    // the next-nearest vector), while the cell table is untouched (the
    // delete is O(|batch|) sidecar bookkeeping, not a corpus rewrite)
    val del = ivf.delete(built, Seq(450L).toDF("vec_id"), "vec_id")
    assert(del.assigned.count() == built.assigned.count(),
      "delete must not rewrite the cell table")
    assert(centroidSet(del.centroids) == centroidSet(built.centroids),
      "delete must not move the quantizer")
    val afterDel = ivf.search(del, emb.filter(col("vec_id") === 450),
        "vec_id", "embedding", 1).select("neighbor_id").head().getLong(0)
    assert(afterDel != 450L, "tombstoned id surfaced as a neighbor")

    // re-add the same id via append (delete-then-upsert = live again) —
    // still against FROZEN centroids
    val readded = ivf.append(del, emb.filter(col("vec_id") === 450),
      "vec_id", "embedding")
    assert(centroidSet(readded.centroids) == centroidSet(built.centroids))
    assert(readded.tombstones.forall(_.filter(col("id") === 450).isEmpty),
      "re-added id must come off the tombstone list")
    val afterReadd = ivf.search(readded, emb.filter(col("vec_id") === 450),
        "vec_id", "embedding", 1).select("neighbor_id").head().getLong(0)
    assert(afterReadd == 450L)

    // same contract for PQ: delete filters the ADC scan, re-add encodes
    // against FROZEN codebooks
    val pq = new PqIndex(m = 8, kCentroids = 16)
    val pqBuilt = pq.build(spark, emb, "vec_id", "embedding")
    val pqDel = pq.delete(pqBuilt, Seq(470L).toDF("vec_id"), "vec_id")
    assert(pq.search(pqDel, emb.filter(col("vec_id") === 470),
        "vec_id", "embedding", 1).select("neighbor_id").head().getLong(0) != 470L)
    val pqReadd = pq.append(pqDel, emb.filter(col("vec_id") === 470),
      "vec_id", "embedding")
    assert(codebookSet(pqReadd.codebooks) == codebookSet(pqBuilt.codebooks))
    assert(pq.search(pqReadd, emb.filter(col("vec_id") === 470),
        "vec_id", "embedding", 1).select("neighbor_id").head().getLong(0) == 470L)
  }

  test("IvfPqIndex tombstone delete filters the probed-cell ADC scan; re-add restores") {
    import spark.implicits._
    val ivfpq = new IvfPqIndex(nCentroids = 8, nProbe = 8, m = 8, kCentroids = 16)
    val built = ivfpq.build(spark, emb, "vec_id", "embedding")
    def top1(b: IvfPqIndex.Built): Long =
      ivfpq.search(b, emb.filter(col("vec_id") === 450), "vec_id", "embedding", 1)
        .select("neighbor_id").head().getLong(0)
    assert(top1(built) == 450L)
    val del = ivfpq.delete(built, Seq(450L).toDF("vec_id"), "vec_id")
    assert(top1(del) != 450L, "tombstoned id surfaced through the composite index")
    val readd = ivfpq.append(del, emb.filter(col("vec_id") === 450),
      "vec_id", "embedding")
    assert(readd.tombstones.forall(_.filter(col("id") === 450).isEmpty))
    assert(top1(readd) == 450L)
  }

  test("tombstones persist through save/load; compactOnDisk rewrites only affected cells") {
    import spark.implicits._
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 8)
    val path = scratchDir("graft-tomb")
    IvfIndex.save(ivf.build(spark, emb, "vec_id", "embedding"), path)

    // delete through the persisted lifecycle: load -> tombstone -> save
    // sidecar only (the corpus-sized assigned table is NOT rewritten here)
    val loaded = IvfIndex.load(spark, path)
    val del = ivf.delete(loaded, Seq(450L, 451L).toDF("vec_id"), "vec_id")
    del.tombstones.get.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/tombstones")
    val reloaded = IvfIndex.load(spark, path)
    assert(reloaded.tombstones.isDefined)
    assert(reloaded.live.filter(col("id").isin(450L, 451L)).isEmpty)

    // physical compaction: only cell dirs holding the dead ids rewrite
    val deadCells = reloaded.assigned
      .filter(col("id").isin(450L, 451L))
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    val cellDir = (c: Int) => new java.io.File(s"$path/assigned/cell=$c")
    val untouchedBefore = (0 until 8).filterNot(deadCells)
      .map(c => c -> cellDir(c).listFiles().map(f =>
        f.getName -> f.lastModified()).toSet).toMap
    IvfIndex.compactOnDisk(spark, path)
    val after = IvfIndex.load(spark, path)
    assert(after.tombstones.isEmpty, "compaction must drop the sidecar")
    assert(after.assigned.filter(col("id").isin(450L, 451L)).isEmpty,
      "compaction must physically remove tombstoned rows")
    assert(after.assigned.count() == emb.count() - 2)
    untouchedBefore.foreach { case (c, files) =>
      assert(cellDir(c).listFiles().map(f =>
        f.getName -> f.lastModified()).toSet == files,
        s"cell $c had no tombstones but its files changed")
    }
    // and the threshold guard: a fresh delete below minDeadFraction is a
    // no-op (sidecar kept, nothing rewritten)
    ivf.delete(after, Seq(452L).toDF("vec_id"), "vec_id")
      .tombstones.get.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/tombstones")
    IvfIndex.compactOnDisk(spark, path, minDeadFraction = 0.5)
    assert(IvfIndex.load(spark, path).tombstones.isDefined,
      "below-threshold compaction must keep the sidecar")
  }

  test("IvfPqIndex.compactOnDisk rewrites only affected cell/bucket dirs, drops the sidecar") {
    import spark.implicits._
    val ivfpq = new IvfPqIndex(nCentroids = 8, nProbe = 8, m = 8, kCentroids = 16)
    val path = scratchDir("graft-ivfpq-compact")
    IvfPqIndex.save(ivfpq.build(spark, emb, "vec_id", "embedding"), path)
    val loaded = IvfPqIndex.load(spark, path)
    val del = ivfpq.delete(loaded, Seq(450L, 451L).toDF("vec_id"), "vec_id")
    del.tombstones.get.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/tombstones")

    val reloaded = IvfPqIndex.load(spark, path)
    val deadCells = reloaded.codedCell.filter(col("id").isin(450L, 451L))
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    val deadBuckets = Set(450L % PqIndex.EmbBuckets, 451L % PqIndex.EmbBuckets)
      .map(_.toInt)
    def files(dir: String): Set[(String, Long)] =
      Option(new java.io.File(dir).listFiles())
        .fold(Set.empty[(String, Long)])(_.map(f =>
          f.getName -> f.lastModified()).toSet)
    val untouchedCells = (0 until 8).filterNot(deadCells)
      .map(c => c -> files(s"$path/codedCell/cell=$c")).toMap
    val untouchedBuckets = (0 until PqIndex.EmbBuckets).filterNot(deadBuckets)
      .map(b => b -> files(s"$path/embById/bucket=$b")).toMap
    def top1(b: IvfPqIndex.Built): Long =
      ivfpq.search(b, emb.filter(col("vec_id") === 450), "vec_id", "embedding", 1)
        .select("neighbor_id").head().getLong(0)
    assert(top1(reloaded) != 450L)

    IvfPqIndex.compactOnDisk(spark, path)
    val after = IvfPqIndex.load(spark, path)
    assert(after.tombstones.isEmpty, "compaction must drop the sidecar")
    assert(after.codedCell.filter(col("id").isin(450L, 451L)).isEmpty,
      "dead codes must be physically removed")
    assert(after.embById.filter(col("id").isin(450L, 451L)).isEmpty,
      "dead fetch rows must be physically removed")
    assert(after.codedCell.count() == emb.count() - 2)
    assert(top1(after) != 450L, "compacted index must keep delete semantics")
    untouchedCells.foreach { case (c, fs) =>
      assert(files(s"$path/codedCell/cell=$c") == fs,
        s"cell $c had no tombstones but its files changed")
    }
    untouchedBuckets.foreach { case (b, fs) =>
      assert(files(s"$path/embById/bucket=$b") == fs,
        s"bucket $b had no tombstones but its files changed")
    }
    // threshold guard, same contract as the IVF compaction
    ivfpq.delete(after, Seq(452L).toDF("vec_id"), "vec_id")
      .tombstones.get.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/tombstones")
    IvfPqIndex.compactOnDisk(spark, path, minDeadFraction = 0.5)
    assert(IvfPqIndex.load(spark, path).tombstones.isDefined,
      "below-threshold compaction must keep the sidecar")
  }

  test("PqIndex.compactOnDisk folds the sidecar into the code table and fetch buckets") {
    import spark.implicits._
    val pq = new PqIndex(m = 8, kCentroids = 16)
    val path = scratchDir("graft-pq-compact")
    PqIndex.save(pq.build(spark, emb, "vec_id", "embedding"), path)
    val del = pq.delete(PqIndex.load(spark, path),
      Seq(470L).toDF("vec_id"), "vec_id")
    del.tombstones.get.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/tombstones")
    def files(dir: String): Set[(String, Long)] =
      Option(new java.io.File(dir).listFiles())
        .fold(Set.empty[(String, Long)])(_.map(f =>
          f.getName -> f.lastModified()).toSet)
    val deadBucket = (470L % PqIndex.EmbBuckets).toInt
    val untouchedBuckets = (0 until PqIndex.EmbBuckets)
      .filterNot(_ == deadBucket)
      .map(b => b -> files(s"$path/embById/bucket=$b")).toMap

    PqIndex.compactOnDisk(spark, path)
    val after = PqIndex.load(spark, path)
    assert(after.tombstones.isEmpty, "compaction must drop the sidecar")
    assert(after.coded.filter(col("id") === 470L).isEmpty)
    assert(after.embById.filter(col("id") === 470L).isEmpty)
    assert(after.coded.count() == emb.count() - 1)
    assert(pq.search(after, emb.filter(col("vec_id") === 470),
        "vec_id", "embedding", 1)
      .select("neighbor_id").head().getLong(0) != 470L)
    // the flat code table is a full rewrite by design; the bucketed fetch
    // table must still only rewrite the dead id's bucket
    untouchedBuckets.foreach { case (b, fs) =>
      assert(files(s"$path/embById/bucket=$b") == fs,
        s"bucket $b had no tombstones but its files changed")
    }
  }

  test("IndexCache.gc reclaims unreachable artifacts; live and best append base survive") {
    val srcDir = new java.io.File(scratchDir("graft-gc-src"))
    val root = scratchDir("graft-gc-cache")
    srcDir.mkdirs()
    // cache mechanics only — the build lambda publishes a marker, no fit
    def open(): String = IndexCache.openOrBuildIncremental(
      srcDir.getPath, "p1", root, "x/_SUCCESS") { st =>
      val d = new java.io.File(st, "x"); d.mkdirs()
      java.nio.file.Files.write(new java.io.File(d, "_SUCCESS").toPath,
        Array.emptyByteArray)
    } { (_, _, st) =>
      val d = new java.io.File(st, "x"); d.mkdirs()
      java.nio.file.Files.write(new java.io.File(d, "_SUCCESS").toPath,
        Array.emptyByteArray)
    }
    copyParquetFile(baseHalf, srcDir, "a.parquet")
    val dir1 = open()
    copyParquetFile(deltaHalf, srcDir, "b.parquet")
    val dir2 = open()
    assert(dir1 != dir2)

    // the DEFAULT age guard (1 h): a shared root reclaims nothing young
    assert(IndexCache.gc(root).isEmpty)
    // a live artifact (dir2) supersedes its append feedstock (dir1)
    assert(IndexCache.gc(root, 0).toSet == Set(dir1))
    assert(!new java.io.File(dir1).exists() && new java.io.File(dir2).isDirectory)

    // source grew again, nothing rebuilt yet: dir2 is the best append
    // base and must SURVIVE gc (no live artifact exists now)
    copyParquetFile(baseHalf.limit(10), srcDir, "c.parquet")
    assert(IndexCache.gc(root, 0).isEmpty)
    assert(new java.io.File(dir2).isDirectory)
    val dir3 = open() // appends from dir2, publishes the new live artifact
    assert(IndexCache.gc(root, 0).toSet == Set(dir2))

    // a DEAD builder's staging dir can never publish — reclaimed; a
    // LIVE builder's (this JVM's pid) is in active use at ANY age and
    // must survive even the zero age bar
    val stale = new java.io.File(s"$dir3.build-999999999-1")
    new java.io.File(stale, "x").mkdirs()
    val mine = new java.io.File(
      s"$dir3.build-${java.lang.ProcessHandle.current().pid()}-1")
    new java.io.File(mine, "x").mkdirs()
    assert(IndexCache.gc(root, 0).toSet == Set(stale.getPath))
    assert(mine.isDirectory, "a live builder's staging dir was reaped")
    new java.io.File(mine, "x").delete() // cleanup: later asserts see
    mine.delete()                        // only published dirs

    // a CHANGED ingested file makes the artifact unreachable (openOrBuild
    // would rebuild; growFrom would never append from it) — BUT a path a
    // live registration still references is kept even then (ADVICE r14:
    // reaping it would turn the next index-served query into a
    // missing-path exception instead of a serve-time fallback)
    copyParquetFile(deltaHalf.limit(7), srcDir, "a.parquet")
    assert(IndexCache.gc(root, 0, keep = Set(dir3)).isEmpty)
    assert(new java.io.File(dir3).isDirectory,
      "a kept (still-registered) artifact was reaped")
    assert(IndexCache.gc(root, 0).toSet == Set(dir3))

    // a pre-source-header manifest records no source: conservatively kept
    val legacy = new java.io.File(root, "0" * 32 + "-p1")
    new java.io.File(legacy, "x").mkdirs()
    java.nio.file.Files.write(new java.io.File(legacy, "x/_SUCCESS").toPath,
      Array.emptyByteArray)
    java.nio.file.Files.write(new java.io.File(legacy, "graft-manifest.txt").toPath,
      "a.parquet:1:1:1".getBytes("UTF-8"))
    val dir4 = open()
    assert(IndexCache.gc(root, 0).isEmpty)
    assert(legacy.isDirectory && new java.io.File(dir4).isDirectory)

    // a deleted source dir leaves every artifact for it unreachable
    srcDir.listFiles().foreach(_.delete()); srcDir.delete()
    assert(IndexCache.gc(root, 0).toSet == Set(dir4))
    assert(legacy.isDirectory, "header-less artifact must still be kept")
  }

  test("gc resolves source liveness through the path's FileSystem: current remote kept, stale/missing remote reaped (r17)") {
    // the rollup-gc ADVICE twin: the pre-r17 sweep probed the source with
    // java.io (a LIVE remote corpus read as missing → artifacts reaped)
    // and judged manifests by the LOCAL walk (empty for remote → all
    // stale). Now a remote group is judged by the bounded remote listing
    // — the same three-field entries remote-built manifests record.
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[graft.util.GraftTestFs].getName)
    val root = scratchDir("graft-gc-remote-cache")
    val liveSrc = new java.io.File(scratchDir("graft-gc-remote-src"))
    liveSrc.mkdirs()
    val dataFile = new java.io.File(liveSrc, "a.parquet")
    java.nio.file.Files.write(dataFile.toPath, Array[Byte](1, 2, 3))
    def publish(key: Char, source: String, entry: String): java.io.File = {
      val d = new java.io.File(root, key.toString * 32 + "-p1")
      d.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(d, "graft-manifest.txt").toPath,
        s"source=$source\n$entry".getBytes("UTF-8"))
      d
    }
    val src = s"graftfs:${liveSrc.getPath}"
    // manifest matches the live listing (relpath:len:mtime) → current
    val current = publish('a', src,
      s"a.parquet:3:${dataFile.lastModified}")
    // manifest records a file state the listing no longer shows → stale
    val staleRemote = publish('b', src, "a.parquet:3:1")
    // the source itself is gone → whole group reaped
    val deadRemote = publish('c', s"$src-nope", "a.parquet:3:1")
    val swept = IndexCache.gc(root, 0).toSet
    assert(swept == Set(staleRemote.getPath, deadRemote.getPath),
      s"expected the stale + missing remote artifacts reaped, got $swept")
    assert(current.isDirectory,
      "a CURRENT remote corpus artifact was reaped")
  }

  test("openOrBuildIncremental over a remote scheme: listing-keyed cache reuse, append on grow, rebuild on change (r17)") {
    // the pre-r17 content key came from the LOCAL walk — empty for a
    // remote source, so every state of the corpus collapsed onto one
    // degenerate key and a changed corpus silently reused its stale
    // artifact (while the h1 registration signature, recorded fresh,
    // vouched for it). The key now derives from the bounded listing.
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[graft.util.GraftTestFs].getName)
    val root = scratchDir("graft-remote-oob-cache")
    val srcDir = new java.io.File(scratchDir("graft-remote-oob-src"))
    srcDir.mkdirs()
    val src = s"graftfs:${srcDir.getPath}"
    var builds = 0
    var appends = 0
    var appendedFiles: Seq[String] = Nil
    def open(): String = IndexCache.openOrBuildIncremental(
      src, "p1", root, "x/_SUCCESS") { st =>
      builds += 1
      val d = new java.io.File(st, "x"); d.mkdirs()
      java.nio.file.Files.write(new java.io.File(d, "_SUCCESS").toPath,
        Array.emptyByteArray)
    } { (_, newFiles, st) =>
      appends += 1; appendedFiles = newFiles
      val d = new java.io.File(st, "x"); d.mkdirs()
      java.nio.file.Files.write(new java.io.File(d, "_SUCCESS").toPath,
        Array.emptyByteArray)
    }
    java.nio.file.Files.write(new java.io.File(srcDir, "a.parquet").toPath,
      Array[Byte](1, 2, 3))
    val dir1 = open()
    assert(builds == 1)
    // unchanged source → same key, no rebuild
    assert(open() == dir1 && builds == 1 && appends == 0)
    // source GREW (new file) → a NEW key and the append path, with the
    // new file handed over as a fully-qualified remote URI
    java.nio.file.Files.write(new java.io.File(srcDir, "b.parquet").toPath,
      Array[Byte](4, 5))
    val dir2 = open()
    assert(dir2 != dir1, "grown remote source must publish under a new key")
    assert(builds == 1 && appends == 1, s"builds=$builds appends=$appends")
    assert(appendedFiles.size == 1 &&
      appendedFiles.head.startsWith("graftfs:") &&
      appendedFiles.head.endsWith("b.parquet"), appendedFiles.toString)
    // an ingested file CHANGED (length) → full rebuild, not append
    java.nio.file.Files.write(new java.io.File(srcDir, "a.parquet").toPath,
      Array[Byte](9))
    val dir3 = open()
    assert(dir3 != dir2 && builds == 2 && appends == 1,
      s"changed remote source must rebuild: builds=$builds appends=$appends")
  }

  test("openOrBuild recovers from a stale PARTIAL index dir at the key path") {
    // simulate a builder that died after creating the target dir but
    // before completing the index: the success marker is missing, so the
    // next open must rebuild, DELETE the partial dir, and publish a
    // complete index — never serve the partial one
    val srcDir = new java.io.File(scratchDir("graft-partial-src"))
    val cacheRoot = scratchDir("graft-partial-cache")
    copyParquetFile(baseHalf, srcDir, "a.parquet")
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 3)
    IvfIndex.openOrBuild(spark, ivf, srcDir.getPath, "vec_id", "embedding", cacheRoot)
    val published = new java.io.File(cacheRoot).listFiles()
      .filter(_.getName.endsWith(s"-${ivf.fingerprint}")).head
    val marker = new java.io.File(published, "assigned/_SUCCESS")
    assert(marker.isFile)
    // corrupt: drop the marker -> the dir is now a stale partial
    assert(marker.delete())
    val again = IvfIndex.openOrBuild(spark, ivf, srcDir.getPath,
      "vec_id", "embedding", cacheRoot)
    assert(new java.io.File(published, "assigned/_SUCCESS").isFile,
      "rebuild must republish a complete index at the key path")
    assert(again.assigned.count() == baseHalf.count())
    // no leaked staging dirs in the shared cache root
    assert(!new java.io.File(cacheRoot).listFiles()
      .exists(_.getName.contains(".build-")))
  }

  test("openOrBuild rebuilds (not appends) when an ingested file changed") {
    val srcDir = new java.io.File(scratchDir("graft-inc-src2"))
    val cacheRoot = scratchDir("graft-inc-cache2")
    copyParquetFile(baseHalf, srcDir, "a.parquet")

    val pq = new PqIndex(m = 8, kCentroids = 16)
    val first = PqIndex.openOrBuild(spark, pq, srcDir.getPath,
      "vec_id", "embedding", cacheRoot)
    val firstBooks = codebookSet(first.codebooks)
    assert(first.coded.count() == baseHalf.count())

    // REPLACE the ingested file (different rows) and add another — the
    // manifest subset check must reject the append fast path
    copyParquetFile(emb.filter(col("vec_id") < 200), srcDir, "a.parquet")
    copyParquetFile(deltaHalf, srcDir, "b.parquet")
    val rebuilt = PqIndex.openOrBuild(spark, pq, srcDir.getPath,
      "vec_id", "embedding", cacheRoot)
    assert(rebuilt.coded.count() ==
      emb.filter(col("vec_id") < 200 || col("vec_id") >= 400).count())
    // codebooks re-fit over the different corpus differ from the originals
    assert(codebookSet(rebuilt.codebooks) != firstBooks)
  }

  test("footer row count skips part files under hidden directories (_temporary/0/)") {
    val dir = scratchDir("graft-footer-count")
    val src = s"$dir/corpus"
    baseHalf.write.parquet(src)
    // a writer's staging leftover: a real part file Spark's reader skips
    emb.limit(7).coalesce(1).write.parquet(s"$dir/staging")
    val part = new java.io.File(s"$dir/staging").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val staged = new java.io.File(s"$src/_temporary/0")
    assert(staged.mkdirs())
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(staged, "part-00000-staged.parquet").toPath)
    val want = spark.read.parquet(src).count()
    assert(want == baseHalf.count())
    assert(IndexCache.rowCountFromFooters(spark.sparkContext.hadoopConfiguration, src)
      .contains(want))
  }
}
