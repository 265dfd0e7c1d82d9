package graft.ml

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The on-disk lifecycle the four index families share through
 * [[IndexCache]]: the compaction gate, the default cache roots gc sweeps,
 * and a fault in the middle of the shared link-append grow.
 */
class IndexLifecycleSpec extends AnyFunSuite with SparkTestBase {

  private def emb: DataFrame = spark.read.parquet(s"$sf0_001/embeddings.parquet")
  private def baseHalf: DataFrame = emb.filter(col("vec_id") < 400)
  private def deltaHalf: DataFrame = emb.filter(col("vec_id") >= 400)

  private def copyParquetFile(df: DataFrame, destDir: java.io.File, name: String): Unit = {
    val tmp = new java.io.File(scratchDir("graft-lifecycle-part"))
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
    destDir.mkdirs()
    java.nio.file.Files.copy(part.toPath, new java.io.File(destDir, name).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def dirsUnder(root: String): Set[String] =
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getPath).toSet

  private def filesUnder(dir: java.io.File): Seq[java.io.File] =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.flatMap(filesUnder)
    else Seq(dir)

  test("compaction gate counts reclaimable rows in PQ and sign: never-indexed sidecar ids keep the sidecar") {
    import spark.implicits._
    val n = emb.count()
    // 1 indexed id + n ids the index never held: raw sidecar fraction
    // (n + 1) / n, reclaimable fraction 1 / n — the gate sits between
    val sidecar = (Seq(470L) ++ (1000000L until 1000000L + n)).toDF("id")
    val gate = 0.5

    val pq = new PqIndex(m = 8, kCentroids = 16)
    val pqPath = scratchDir("graft-lifecycle-pq-gate")
    PqIndex.save(pq.build(spark, emb, "vec_id", "embedding"), pqPath)
    IndexCache.writeTombstones(Some(sidecar), pqPath)
    PqIndex.compactOnDisk(spark, pqPath, minDeadFraction = gate)
    val pqAfter = PqIndex.load(spark, pqPath)
    assert(pqAfter.tombstones.isDefined,
      "PQ compacted on never-indexed ids below the reclaimable threshold")
    assert(pqAfter.coded.count() == n)

    val signPath = scratchDir("graft-lifecycle-sign-gate")
    SignIndex.save(SignIndex.build(emb, "vec_id", "embedding"), signPath)
    IndexCache.writeTombstones(Some(sidecar), signPath)
    SignIndex.compactOnDisk(spark, signPath, minDeadFraction = gate)
    val signAfter = SignIndex.load(spark, signPath)
    assert(signAfter.tombstones.isDefined,
      "sign compacted on never-indexed ids below the reclaimable threshold")
    assert(signAfter.signs.count() == n)

    // the gate reads the same number an operator reads
    val (total, dead, frac) = IndexCache.deadStats(signAfter.signs, signAfter.tombstones)
    assert(total == n && dead == 1L && frac < gate)
  }

  test("gcIndexCache sweeps the PQ and sign default roots") {
    val src = new java.io.File(scratchDir("graft-lifecycle-gc-src"))
    copyParquetFile(baseHalf, src, "a.parquet")
    val pqBefore = dirsUnder(IndexCache.DefaultPqRoot)
    val signBefore = dirsUnder(IndexCache.DefaultSignRoot)
    PqIndex.openOrBuild(spark, new PqIndex(m = 8, kCentroids = 16),
      src.getPath, "vec_id", "embedding")
    SignIndex.openOrBuild(spark, src.getPath, "vec_id", "embedding")
    val Seq(pqDir) = (dirsUnder(IndexCache.DefaultPqRoot) -- pqBefore).toSeq
    val Seq(signDir) = (dirsUnder(IndexCache.DefaultSignRoot) -- signBefore).toSeq

    // source deleted: both artifacts are unreachable
    filesUnder(src).foreach(_.delete())
    src.delete()
    val removed = new graft.store.MerkonStore(spark).gcIndexCache(olderThanMs = 0)
    assert(removed.contains(pqDir) && removed.contains(signDir), removed)
    assert(!new java.io.File(pqDir).exists() && !new java.io.File(signDir).exists())
  }

  /** One family as the shared grow path sees it: how to open it over a
    * source in a cache root, its fingerprint and layout, and the delta's
    * ids in its key domain. */
  private case class Family(name: String, fingerprint: String,
      layout: IndexCache.Layout, open: (String, String) => Unit,
      deltaIds: DataFrame => DataFrame)

  private val families: Seq[Family] = {
    val longIds = (d: DataFrame) => d.select(col("vec_id").as("id"))
    val ivf = new IvfIndex(nCentroids = 8, nProbe = 3)
    val pq = new PqIndex(m = 8, kCentroids = 16)
    val ivfpq = new IvfPqIndex(nCentroids = 4, nProbe = 2, m = 8, kCentroids = 16)
    Seq(
      Family("ivf", ivf.fingerprint, IvfIndex.Layout,
        (src, root) => IvfIndex.openOrBuildPath(spark, ivf, src, "vec_id", "embedding", root),
        longIds),
      Family("pq", pq.fingerprint, PqIndex.Layout,
        (src, root) => PqIndex.openOrBuild(spark, pq, src, "vec_id", "embedding", root),
        longIds),
      Family("ivfpq", ivfpq.fingerprint, IvfPqIndex.Layout,
        (src, root) => IvfPqIndex.openOrBuildPath(spark, ivfpq, src, "vec_id", "embedding", root),
        longIds),
      Family("sign", SignIndex.fingerprint, SignIndex.Layout,
        (src, root) => SignIndex.openOrBuild(spark, src, "vec_id", "embedding", root),
        d => d.select(col("vec_id").cast("long").as("id"))))
  }

  families.foreach { fam =>
    test(s"a delta writer that throws mid link-append leaves the published ${fam.name} artifact intact") {
      val src = new java.io.File(scratchDir(s"graft-lifecycle-fault-src-${fam.name}"))
      val root = scratchDir(s"graft-lifecycle-fault-idx-${fam.name}")
      copyParquetFile(baseHalf, src, "a.parquet")
      fam.open(src.getPath, root)
      val Seq(published) = dirsUnder(root).toSeq
      def snapshot: Map[String, Long] = {
        val base = new java.io.File(published).toPath
        filesUnder(new java.io.File(published))
          .map(f => base.relativize(f.toPath).toString -> f.length()).toMap
      }
      val before = snapshot

      copyParquetFile(deltaHalf, src, "b.parquet")
      val err = intercept[java.io.IOException] {
        IndexCache.openOrGrow(spark, src.getPath, fam.fingerprint, root,
            fam.layout) { _ =>
          throw new AssertionError("a grown source must take the grow path")
        }((pub, delta, staging) =>
            IndexCache.linkAppend(spark, pub, staging, fam.layout,
                fam.deltaIds(delta)) { st =>
              // a crash after the links and part of the delta's rows
              java.nio.file.Files.write(
                new java.io.File(st, s"${fam.layout.keyTable}/part-partial.parquet").toPath,
                Array.fill[Byte](16)(1))
              throw new java.io.IOException("injected delta-write fault")
            },
          (_, _, _) => throw new AssertionError("disjoint ids must take the link path"))
      }
      assert(err.getMessage == "injected delta-write fault")

      assert(snapshot == before, s"${fam.name}: published artifact changed")
      val data = filesUnder(new java.io.File(published)).filter(_.isFile)
      data.foreach { f =>
        val links = java.nio.file.Files.getAttribute(f.toPath, "unix:nlink")
          .asInstanceOf[Number].intValue()
        assert(links == 1, s"${fam.name}: $f still has $links links")
      }
      assert(dirsUnder(root) == Set(published),
        s"${fam.name}: a staging dir survived: ${dirsUnder(root)}")

      // the next open grows it for real
      fam.open(src.getPath, root)
      val Seq(grown) = (dirsUnder(root) - published).toSeq
      assert(spark.read.parquet(s"$grown/${fam.layout.keyTable}").count() == emb.count(),
        s"${fam.name}: grown artifact row count")
    }
  }
}
