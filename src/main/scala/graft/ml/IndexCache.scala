package graft.ml

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Shared build-once/read-many lifecycle for the persisted ANN index
 * artifacts of all four families (IVF, PQ, IVF-PQ, sign). Each family
 * keeps its table list ([[Layout]]), its build and encode, and its
 * per-table compaction rewrite; this module owns the rest — publish,
 * open-or-grow ([[openOrGrow]], [[linkAppend]]), the tombstone sidecar,
 * the compaction gate ([[compactOnDisk]]), the default roots and gc.
 *
 * A registered query path must never
 * run an iterative fit — it loads the prebuilt index keyed on a content
 * fingerprint of the source files plus the quantizer params, building and
 * publishing it atomically on first use (the single-node analog of the
 * explicit index job that maintains these tables at 100 TB).
 *
 * Staleness: the key hashes file count + name + length + mtime + a CRC32
 * of the head bytes, so a regenerated corpus or changed index shape
 * rebuilds instead of serving stale data (the CRC catches a file
 * rewritten same-size within mtime granularity).
 *
 * Incremental growth: a vector store's steady state is upsert-heavy, and
 * a full k-means re-fit + re-encode per ingest batch is the scale-killer
 * the append path avoids. Each published index carries a MANIFEST of the
 * exact source-file fingerprints it ingested; when the current source is
 * a strict superset of a published manifest (files only ADDED — every
 * ingested file unchanged), the caller's `appendInto` encodes ONLY the
 * new files against the frozen quantizer (no re-fit) and publishes the
 * grown index under the new key. A changed or removed file, or changed
 * quantizer params, falls back to a full rebuild — append never serves
 * stale rows.
 *
 * Concurrency: the cache root is shared (tmpdir), so builds go to a
 * process-unique staging dir and are atomically renamed into place; a
 * concurrent builder that PUBLISHED a complete index (success marker
 * present) wins and its index is served, a stale partial dir at the key
 * path is removed and the move retried. A reader never observes a
 * half-written index, and a failed build deletes its staging dir rather
 * than leaking it.
 */
private[graft] object IndexCache {

  /** THE default publish roots, one per index family — one definition
    * for the Scala index APIs, the store facade, the registry and the SQL
    * `gc_index_cache('')` contract ("empty = the default roots").
    * Duplicated literals drifted once per call site before, and a root
    * no gc sweep reaches grows by one artifact per rebuild (ADVICE r14). */
  private[graft] val DefaultIvfRoot: String =
    sys.props("java.io.tmpdir") + "/graft-ivf"
  private[graft] val DefaultIvfPqRoot: String =
    sys.props("java.io.tmpdir") + "/graft-ivfpq"
  private[graft] val DefaultPqRoot: String =
    sys.props("java.io.tmpdir") + "/graft-pq"
  private[graft] val DefaultSignRoot: String =
    sys.props("java.io.tmpdir") + "/graft-sign"

  /** Every family's default root: what a gc sweep with no named root
    * covers. */
  private[graft] val DefaultRoots: Seq[String] =
    Seq(DefaultIvfRoot, DefaultIvfPqRoot, DefaultPqRoot, DefaultSignRoot)

  /** One family's artifact on disk: the KEY table, whose `_SUCCESS`
    * marks a complete artifact and whose `id` column the append overlap
    * probe and the compaction gate read, and the family's other data
    * tables, which a link-append reuses. The tombstone sidecar belongs to
    * every family and is not listed. */
  private[graft] final case class Layout(keyTable: String,
      tables: Seq[String]) {
    def successRel: String = s"$keyTable/_SUCCESS"
  }

  private val ManifestRel = "graft-manifest.txt"

  /** Exact row count of the parquet source `df` reads: from its footers
    * ([[rowCountFromFooters]]), else a counting job. */
  private[graft] def rowCount(spark: SparkSession, sourcePath: String,
      df: => DataFrame): Long =
    rowCountFromFooters(spark.sparkContext.hadoopConfiguration, sourcePath)
      .getOrElse(df.count())

  /** Exact row count of a parquet source (file or directory, any Hadoop
    * scheme) summed from the file FOOTERS on the driver — no Spark job.
    * r17: the geometry memo's warm open paid a scheduled count() job per
    * (corpus, contract) entry for a number the footers already hold.
    * None when the source has no readable parquet footprint (caller
    * falls back to a real count). The tree is walked with `listStatus`:
    * `listFiles` builds a `LocatedFileStatus` per file, which copies the
    * file's permission, and the local file system without Hadoop's
    * native library reads that by forking `ls -ld`. The footers are
    * opened with read options over `conf`: without them each open
    * builds a fresh Hadoop `Configuration`, parsing its XML resources. */
  private[graft] def rowCountFromFooters(
      conf: org.apache.hadoop.conf.Configuration,
      sourcePath: String): Option[Long] =
    try {
      val p = new org.apache.hadoop.fs.Path(sourcePath)
      val fs = p.getFileSystem(conf)
      // mirror the scan's hidden-path convention on EVERY component
      // below the root, as remoteListingSignature does: a part file
      // under `_temporary/0/` (a crashed or running writer's staging)
      // is as invisible to Spark's reader as `_SUCCESS`, and counting
      // it would silently diverge c from corpus.count() (r18, ADVICE)
      def visible(f: org.apache.hadoop.fs.FileStatus): Boolean = {
        val name = f.getPath.getName
        !name.startsWith("_") && !name.startsWith(".")
      }
      def walk(f: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
        if (f.isDirectory) fs.listStatus(f.getPath).toSeq.filter(visible).flatMap(walk)
        else Seq(f)
      val files = walk(fs.getFileStatus(p))
        .filter(f => f.isFile && visible(f) && f.getPath.getName.endsWith(".parquet"))
      if (files.isEmpty) None
      else {
        val options = org.apache.parquet.HadoopReadOptions.builder(conf).build()
        var n = 0L
        files.foreach { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(f, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in, options)
          try n += r.getRecordCount finally r.close()
        }
        Some(n)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Manifest header recording WHICH source dir an artifact ingested —
    * what [[gc]] needs to decide reachability (the dir-name key is a
    * one-way hash of the source path). Entry lines follow the header. */
  private val SourceHeader = "source="

  /** Data files of a source dir, hidden files excluded: _SUCCESS / .crc
    * sidecars are invisible to Spark's parquet reader, so they must be
    * invisible to the fingerprint too — otherwise a rewritten _SUCCESS
    * marker would mask a pure-append grow. RECURSIVE (r15 review): a
    * hive/date-partitioned corpus keeps its parquet files in
    * subdirectories, and a non-recursive listing made the fingerprint a
    * constant ('path|n=0') — the staleness guard and rehydration
    * validation were blind to in-place rewrites of exactly the layout a
    * partitioned 100 TB corpus uses. Hidden (`_`/`.`-prefixed)
    * subdirectories are skipped like hidden files. */
  private[ml] def dataFiles(sourcePath: String): Seq[java.io.File] = {
    val root = new java.io.File(sourcePath)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten
          .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
          .flatMap(walk)
      else Seq(f)
    (if (root.isDirectory) walk(root) else Seq(root).filter(_.isFile))
      .sortBy(_.getPath)
  }

  /** Manifest/fingerprint entry lines. Keyed by the file's path RELATIVE
    * to the source root (bare name for a flat dir — identical to the
    * pre-r15 spelling, so existing flat-source manifests stay valid and
    * appendable), disambiguating same-named files across partition
    * subdirectories. */
  private def entriesOf(srcFiles: Seq[java.io.File], sourcePath: String): Seq[String] = {
    val root = new java.io.File(sourcePath).toPath
    srcFiles.map { f =>
      val rel =
        if (f.toPath == root) f.getName
        else root.relativize(f.toPath).toString
      s"$rel:${f.length}:${f.lastModified}:${headCrc(f)}"
    }
  }

  /** Content fingerprint of a source directory — the same key the index
    * cache publishes under. Cheap (driver FS listing + head CRCs, no
    * Spark job); exposed so content-sensitive memos ([[IvfGeometry]])
    * can key on WHAT the corpus holds, not just where it lives — a
    * corpus rewritten at the same path must never be served another
    * corpus's cached derivation. */
  private[graft] def sourceFingerprint(sourcePath: String): String = {
    val srcFiles = dataFiles(sourcePath)
    keyOf(sourcePath, srcFiles, entriesOf(srcFiles, sourcePath))
  }

  /**
   * Locality-aware source signature for the serve-time staleness guards
   * (VERDICT r16 ask #3 + ADVICE r16): the pre-r17 guards treated any
   * SCHEME-LESS path as local, but on a cluster where `fs.defaultFS` is
   * hdfs/s3 a scheme-less fact path resolves remotely for the Spark read
   * while the java.io fingerprint walk saw an empty local dir — a
   * constant hash that left the guard permanently satisfied (stale cells
   * serving as "exact") and GC treating the live fact as missing.
   * Locality is therefore resolved the way the READ resolves it: through
   * the path's Hadoop `FileSystem`.
   *
   *  - local (`fs.getScheme == "file"`): the [[sourceFingerprint]] walk
   *    (per-file length + mtime + 64 KiB head-CRC, ~30 µs/file — format-
   *    identical to pre-r17 local signatures, so persisted registrations
   *    stay valid);
   *  - any other scheme: ONE bounded recursive listing via
   *    `fs.listFiles(path, true)` — the call object stores batch
   *    (S3 LIST pages carry name/length/mtime, ~1 RPC per 1000 files) —
   *    hashing (relative path, length, mtime) per visible data file,
   *    prefixed `h1:` so a remote signature can never collide with a
   *    local-format one. No per-file reads cross the network: head-CRCs
   *    would turn the guard into N GETs per TTL expiry.
   *  - "" when the signature cannot be computed (unresolvable scheme,
   *    listing error) OR when the walk finds ZERO data files — a
   *    missing/empty source must read as "cannot guard", not as a stable
   *    state the guard is satisfied by (registrations persist only under
   *    non-empty signatures, so GC sees a vanished source as a mismatch,
   *    never as a constant).
   *
   * Staleness detection for remote paths is file-set + length + mtime
   * (the manifest-commit granularity every lakehouse guard uses); the
   * head-CRC upgrade stays a local-scheme luxury.
   */
  private[graft] def sourceSignature(
      conf: org.apache.hadoop.conf.Configuration, sourcePath: String): String =
    scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(sourcePath)
      val fs = p.getFileSystem(conf)
      if (fs.getScheme == "file") {
        val local = p.toUri.getPath
        if (dataFiles(local).isEmpty) "" else sourceFingerprint(local)
      } else remoteListingSignature(fs, p)
    }.getOrElse("")

  /** One recursive listing → `h1:`-prefixed hash over (relpath, len,
    * mtime) of every non-hidden data file, "" when none. Hidden
    * (`_`/`.`-prefixed) path components are skipped exactly like the
    * local walk — a rewritten `_SUCCESS` must not mask a pure append. */
  private def remoteListingSignature(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): String = {
    val qualified = fs.makeQualified(root)
    if (!fs.exists(qualified)) return ""
    val rootUri = qualified.toUri
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(qualified, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = rootUri.relativize(st.getPath.toUri).getPath
      val hidden = rel.split("/")
        .exists(c => c.startsWith("_") || c.startsWith("."))
      if (!hidden && st.isFile)
        buf += s"$rel:${st.getLen}:${st.getModificationTime}"
    }
    if (buf.isEmpty) ""
    else "h1:" + java.security.MessageDigest.getInstance("MD5")
      .digest((s"$qualified|n=${buf.size}" +: buf.sorted.toSeq)
        .mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** The fingerprint's per-file entry lines zipped with each file's
    * absolute path — what a delta-classifying refresh job needs: compare
    * a recorded manifest against the current entries and read ONLY the
    * files whose entries are new ([[graft.plans.RollupRegistry]]'s
    * O(delta) refresh, the rollup twin of [[growFrom]]'s subset probe). */
  private[graft] def sourceEntries(sourcePath: String): Seq[(String, String)] = {
    val srcFiles = dataFiles(sourcePath)
    entriesOf(srcFiles, sourcePath).zip(srcFiles.map(_.getPath))
  }

  /** Locality-resolved [[sourceEntries]] (r17): remote-scheme sources
    * yield the bounded listing's three-field entries paired with
    * fully-qualified URIs a Spark read accepts directly — so the rollup
    * O(delta) refresh classifies insert-only waves on object storage
    * too, not just local facts. */
  private[graft] def sourceEntriesResolved(sourcePath: String)
      : Seq[(String, String)] =
    if (isRemote(sourcePath)) { val (e, p) = remoteListing(sourcePath); e.zip(p) }
    else sourceEntries(new org.apache.hadoop.fs.Path(sourcePath).toUri.getPath)

  private def keyOf(sourcePath: String, srcFiles: Seq[java.io.File],
      entries: Seq[String]): String =
    keyOfEntries(sourcePath, srcFiles.size, entries)

  private def keyOfEntries(sourcePath: String, n: Int,
      entries: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest((s"$sourcePath|n=$n" +: entries).mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Resolve whether `sourcePath` is served by the local filesystem —
    * through its Hadoop FileSystem, the way a Spark read resolves it.
    * Unresolvable (no scheme handler, no active session conf) counts as
    * local: that preserves the pre-r17 behavior for every plain path. */
  private def isRemote(sourcePath: String): Boolean = scala.util.Try {
    val p = new org.apache.hadoop.fs.Path(sourcePath)
    val conf = scala.util.Try(org.apache.spark.sql.SparkSession.active
        .sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    p.getFileSystem(conf).getScheme != "file"
  }.getOrElse(false)

  /** (entry lines, readable file paths) for a REMOTE source: one bounded
    * recursive listing — `relpath:len:mtime`, THREE fields, so a
    * remote-built manifest can never subset-match a local one
    * (`entriesOf` spells four fields, the head-CRC last) — paired with
    * fully-qualified URIs Spark reads directly. (Nil, Nil) when the
    * listing fails or the source is empty: the caller's key degrades to
    * the path-only constant exactly like an empty local dir, and
    * [[gc]]'s remote judge treats an empty listing as cannot-judge. */
  private def remoteListing(sourcePath: String): (Seq[String], Seq[String]) =
    scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(sourcePath)
      val conf = scala.util.Try(org.apache.spark.sql.SparkSession.active
          .sparkContext.hadoopConfiguration)
        .getOrElse(new org.apache.hadoop.conf.Configuration())
      val fs = p.getFileSystem(conf)
      val q = fs.makeQualified(p)
      if (!fs.exists(q)) (Seq.empty[String], Seq.empty[String])
      else {
        val rootUri = q.toUri
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        val it = fs.listFiles(q, true)
        while (it.hasNext) {
          val st = it.next()
          val rel = rootUri.relativize(st.getPath.toUri).getPath
          val hidden = rel.split("/")
            .exists(c => c.startsWith("_") || c.startsWith("."))
          if (!hidden && st.isFile)
            buf += ((s"$rel:${st.getLen}:${st.getModificationTime}",
              st.getPath.toString))
        }
        val sorted = buf.sortBy(_._1).toSeq
        (sorted.map(_._1), sorted.map(_._2))
      }
    }.getOrElse((Seq.empty, Seq.empty))

  /** Resolve the published index dir for (source, params), building via
    * `buildInto(stagingDir)` if absent. `successRel` is a file that only
    * exists in a complete index (e.g. "assigned/_SUCCESS"). Source-grew
    * fast path: when a published index for the same params ingested a
    * strict subset of the current source files (all of them unchanged),
    * call `appendInto(publishedPath, newFiles, stagingDir)` — which must
    * encode ONLY `newFiles` against the published index's frozen
    * quantizer and write the grown index to `stagingDir` — instead of
    * `buildInto`. */
  def openOrBuildIncremental(sourcePath: String, paramsFingerprint: String,
      cacheRoot: String, successRel: String)(buildInto: String => Unit)(
      appendInto: (String, Seq[String], String) => Unit): String = {
    // locality-aware content key (r17): a REMOTE corpus keys/manifests on
    // the bounded listing instead of the blind local walk — which listed
    // NOTHING, collapsing every state of the corpus onto one degenerate
    // key, so a changed remote corpus silently reused its stale artifact
    // (and the h1 registration signature, recorded fresh, would then
    // vouch for it). Local paths are byte-identical to pre-r17: existing
    // caches stay valid.
    val (entries, filePaths) =
      if (isRemote(sourcePath)) remoteListing(sourcePath)
      else {
        val srcFiles = dataFiles(sourcePath)
        (entriesOf(srcFiles, sourcePath), srcFiles.map(_.getPath))
      }
    val key = keyOfEntries(sourcePath, entries.size, entries)
    val path = s"$cacheRoot/$key-$paramsFingerprint"
    val target = new java.io.File(path)
    if (!new java.io.File(target, successRel).isFile) {
      val staging = new java.io.File(
        s"$path.build-${java.lang.ProcessHandle.current().pid()}-${System.nanoTime()}")
      // a build that dies mid-write must not leak its staging dir into the
      // shared cache root (nor can it ever be served — only a rename
      // publishes)
      try {
        if (!growFrom(paramsFingerprint, cacheRoot, successRel, entries,
            filePaths, appendInto, staging))
          buildInto(staging.getPath)
        // manifest LAST, after the index content is complete
        java.nio.file.Files.write(new java.io.File(staging, ManifestRel).toPath,
          (s"$SourceHeader$sourcePath" +: entries).mkString("\n").getBytes("UTF-8"))
      } catch { case t: Throwable => deleteRecursively(staging); throw t }
      publish(staging, target, successRel)
    }
    path
  }

  /** Find the largest published same-params index whose manifest is a
    * strict subset of the current source files and append the new files
    * onto it; false if none qualifies (caller does a full build). */
  private def growFrom(paramsFingerprint: String, cacheRoot: String,
      successRel: String, entries: Seq[String], filePaths: Seq[String],
      appendInto: (String, Seq[String], String) => Unit,
      staging: java.io.File): Boolean = {
    val current = entries.toSet
    val byEntry = entries.zip(filePaths).toMap
    val candidates = Option(new java.io.File(cacheRoot).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.endsWith(s"-$paramsFingerprint"))
      .filter(d => new java.io.File(d, successRel).isFile)
      .flatMap { d =>
        val mf = new java.io.File(d, ManifestRel)
        if (!mf.isFile) None
        else {
          val ingested = new String(
            java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
            .split("\n").filter(_.nonEmpty)
            .filterNot(_.startsWith(SourceHeader)).toSet
          // strict subset: every ingested file still present AND unchanged,
          // and at least one genuinely new file to encode
          if (ingested.nonEmpty && ingested.subsetOf(current) &&
              ingested.size < current.size) Some((d, ingested))
          else None
        }
      }
    candidates.sortBy(-_._2.size).headOption match {
      case Some((published, ingested)) =>
        val newFiles = entries.filterNot(ingested).map(byEntry)
        appendInto(published.getPath, newFiles, staging.getPath)
        true
      case None => false
    }
  }

  /** The open every family's `openOrBuild*` runs: [[openOrBuildIncremental]]
    * keyed on `layout`'s success marker, whose grow step reads the new
    * source files as `delta` and tries the family's O(delta)
    * `linkAppend(published, delta, staging)` (see [[linkAppend]]),
    * falling back to its LWW `rewrite(published, delta, staging)` when
    * that declines. No quantizer fit runs on either grow form. The delta
    * read keeps `basePath`: the new files are LEAF files, and a
    * hive-partitioned corpus keeps its partition columns only in the
    * directory structure — without the base path a partition-column id
    * would vanish from the delta's schema (ADVICE r15). The delta is read
    * with the schema of the whole source, partition columns included. */
  private[graft] def openOrGrow(spark: SparkSession, sourcePath: String,
      paramsFingerprint: String, cacheRoot: String, layout: Layout)(
      build: String => Unit)(
      linkAppend: (String, DataFrame, String) => Boolean,
      rewrite: (String, DataFrame, String) => Unit): String =
    openOrGrow(spark, sourcePath, spark.read.parquet(sourcePath),
      paramsFingerprint, cacheRoot, layout)(build)(linkAppend, rewrite)

  /** [[openOrGrow]] with `corpus`, the caller's own read of `sourcePath`,
    * whose schema the grow step reads the delta with: a caller that reads
    * the corpus anyway ([[IvfGeometry]]'s calibration after a grow) then
    * infers one schema where the delta's read would infer another. */
  private[graft] def openOrGrow(spark: SparkSession, sourcePath: String,
      corpus: => DataFrame, paramsFingerprint: String, cacheRoot: String,
      layout: Layout)(
      build: String => Unit)(
      linkAppend: (String, DataFrame, String) => Boolean,
      rewrite: (String, DataFrame, String) => Unit): String =
    openOrBuildIncremental(sourcePath, paramsFingerprint, cacheRoot,
      layout.successRel)(build) { (published, newFiles, staging) =>
      val delta = spark.read.schema(corpus.schema)
        .option("basePath", sourcePath).parquet(newFiles: _*)
      if (!linkAppend(published, delta, staging))
        rewrite(published, delta, staging)
    }

  /**
   * The O(delta) artifact refresh every family's `appendOnDisk` shares
   * (r15): grow a PUBLISHED artifact into `staging` by HARDLINKING every
   * existing data file of its tables and the tombstone sidecar, then
   * `writeDelta(staging)` appends ONLY the delta's encoded rows as new
   * files — no shuffle of existing rows, no corpus-sized write. Links
   * cannot express LWW row replacement, so this applies IFF `deltaIds`
   * (in the artifact's key domain) are disjoint from the published key
   * table AND its sidecar (the store's insert-only refresh shape — its
   * update and re-add waves full-dump upstream). Returns false (nothing
   * left in `staging`) on overlap or when the filesystem refuses links;
   * the caller rewrites. A `writeDelta` that throws leaves its partial
   * files in `staging`, which the open removes with the links, so the
   * published artifact's files are never touched. At cluster scale the
   * same shape is a metadata-only manifest commit (new files
   * registered, existing files reused); the local hardlink is that
   * commit's single-node spelling — and deleting either artifact dir
   * later only unlinks names, never bytes the sibling still reads.
   * Old-artifact CONTRACT sidecars (nprobe calibration, registration
   * record, cache manifest, `augmented`) are deliberately not linked:
   * the grown artifact recalibrates and re-registers. A family's
   * `writeDelta` copies the records the grown artifact keeps (IVF: the
   * `assigned` schema and the calibration anchors).
   *
   * The key table and the sidecar both hold ids of `deltaIds`' key
   * domain, so both are read with its `id` field (inferring their
   * schemas costs a footer job each) and probed together in one
   * [[overlaps]].
   */
  private[graft] def linkAppend(spark: SparkSession, published: String,
      staging: String, layout: Layout, deltaIds: DataFrame)(
      writeDelta: String => Unit): Boolean = {
    val idSchema = StructType(Seq(deltaIds.schema("id").copy(nullable = true)))
    val keys = spark.read.schema(idSchema)
      .parquet(s"$published/${layout.keyTable}").select("id")
    val taken = readTombstones(spark, published, Some(idSchema))
      .fold(keys)(keys.unionByName(_))
    if (overlaps(taken, deltaIds) ||
        !linkArtifactTables(published, staging,
          (layout.keyTable +: layout.tables) :+ TombstonesRel))
      return false
    writeDelta(staging)
    true
  }

  /** Whether any `id` of `keys` is among `ids`: the top-1 of their semi-
    * join, one job over every partition after the broadcast of a small
    * `ids` (`limit(1).count()` adds a shuffle job to that). */
  private[graft] def overlaps(keys: DataFrame, ids: DataFrame): Boolean =
    keys.select("id").join(ids, Seq("id"), "left_semi")
      .orderBy("id").limit(1).collect().nonEmpty

  /** Hardlink each existing table dir of `published` into `staging` and
    * write a FRESH (unshared) success marker per table — a linked marker
    * would share its inode with the still-served old artifact, and the
    * delta write job rewrites `_SUCCESS` in place. False (staging
    * removed) on a link-refusing filesystem. */
  private def linkArtifactTables(published: String, staging: String,
      tables: Seq[String]): Boolean =
    try {
      tables.foreach { sub =>
        val from = new java.io.File(published, sub)
        if (from.isDirectory) {
          val to = new java.io.File(new java.io.File(staging), sub)
          linkTree(from, to)
          java.nio.file.Files.write(
            new java.io.File(to, "_SUCCESS").toPath, Array.emptyByteArray)
        }
      }
      true
    } catch {
      case _: Exception =>
        deleteRecursively(new java.io.File(staging))
        false
    }

  /** Hardlink every VISIBLE file of `from` into `to`, recursing into
    * partition subdirectories; `_`-markers and `.`-checksum sidecars are
    * skipped (the new artifact writes its own — a linked marker/crc
    * would share an inode with the old artifact's, and Hadoop's local
    * FS rewrites both in place). */
  private def linkTree(from: java.io.File, to: java.io.File): Unit = {
    to.mkdirs()
    Option(from.listFiles()).toSeq.flatten.foreach { f =>
      if (f.isDirectory) linkTree(f, new java.io.File(to, f.getName))
      else if (!f.getName.startsWith("_") && !f.getName.startsWith("."))
        java.nio.file.Files.createLink(
          new java.io.File(to, f.getName).toPath, f.toPath)
    }
  }

  // ---- the tombstone sidecar ----
  //
  // A delete is O(|batch|) bookkeeping: the ids land in
  // `<artifact>/tombstones` (one `id` column in the artifact's own key
  // domain), every probe anti-joins it, and compaction folds it into the
  // tables once the dead fraction is worth a rewrite. No quantizer ever
  // re-runs for a delete. This is the one place that spells the path.

  private val TombstonesRel = "tombstones"

  /** A parquet table dir whose writer finished (`_SUCCESS`), else None.
    * A known `schema` skips the footer-inference job. */
  private[graft] def loadOptional(spark: SparkSession, dir: String,
      schema: Option[StructType] = None)
      : Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      Some(schema.fold(spark.read)(spark.read.schema).parquet(dir))
    else None
  }

  /** The artifact's pending deletes, None when it has none. The serve
    * path passes the registered `schema`. */
  private[graft] def readTombstones(spark: SparkSession, artifact: String,
      schema: Option[StructType] = None)
      : Option[DataFrame] =
    loadOptional(spark, s"$artifact/$TombstonesRel", schema)

  /** Persist a built index's sidecar (part of every family's `save`). */
  private[graft] def writeTombstones(tombstones: Option[DataFrame],
      artifact: String): Unit =
    tombstones.foreach(_.coalesce(1).write.mode("overwrite")
      .parquet(s"$artifact/$TombstonesRel"))

  /** Union `dead` into a published artifact's sidecar (idempotent — a
    * distinct union). A union with an existing sidecar is materialized
    * before the overwrite because it otherwise reads the directory the
    * write is replacing. O(|sidecar| + |batch|), never touches index
    * tables. The sidecar is read with `schema`, the one its registration
    * recorded. */
  private[graft] def mergeTombstones(spark: SparkSession, artifact: String,
      dead: DataFrame, schema: Option[StructType]): Unit = {
    val current = readTombstones(spark, artifact, schema)
    val merged = withTombstones(current, dead)
    writeTombstones(
      Some(if (current.isDefined) merged.localCheckpoint() else merged),
      artifact)
  }

  /** A delete in memory: the sidecar with `dead` ids added. */
  private[graft] def withTombstones(tombstones: Option[DataFrame],
      dead: DataFrame): DataFrame =
    tombstones.fold(dead)(_.unionByName(dead)).distinct()

  /** An upsert in memory: ids a delta re-adds come OFF the sidecar —
    * delete-then-upsert must leave the vector live (the store's LWW
    * order). */
  private[graft] def revive(tombstones: Option[DataFrame],
      ids: DataFrame): Option[DataFrame] =
    tombstones.map(_.join(ids, Seq("id"), "left_anti"))

  /** `rows` minus the tombstoned ids: what a probe may see. No hint on
    * the anti-join — the sidecar is usually tiny (AQE broadcasts it),
    * but a long-uncompacted store can grow it past broadcast size and
    * the join must still plan. */
  private[graft] def live(rows: DataFrame,
      tombstones: Option[DataFrame]): DataFrame =
    tombstones.fold(rows)(t => rows.join(t, Seq("id"), "left_anti"))

  /** (rows, reclaimable, dead fraction) of an artifact: its key table's
    * row count and the sidecar ids that are actually in it — a semi-join,
    * not the raw sidecar count, which over-reports when the sidecar holds
    * never-indexed ids (deletes of zero-norm or never-dumped rows). The
    * compaction gate and `index_stats` read this one definition, so the
    * number an operator reads is the number the gate applies
    * (ADVICE r14). */
  private[graft] def deadStats(keys: DataFrame,
      tombstones: Option[DataFrame]): (Long, Long, Double) = {
    val total = keys.count()
    val dead = tombstones.fold(0L)(t =>
      keys.join(t.select("id"), Seq("id"), "left_semi").count())
    (total, dead, if (total == 0) 0.0 else dead.toDouble / total)
  }

  /** The on-disk compaction every family's `compactOnDisk` shares: no
    * sidecar, nothing to do; a reclaimable fraction ([[deadStats]] over
    * the key rows `keys`) below `minDeadFraction` leaves the sidecar
    * pending; otherwise `rewrite(dead)` folds the deletes into the
    * family's tables and the sidecar drops LAST — a crash mid-rewrite
    * leaves every delete recorded, never resurrects a row. */
  private[graft] def compactOnDisk(spark: SparkSession, artifact: String,
      keys: DataFrame, tombstones: Option[DataFrame],
      minDeadFraction: Double)(rewrite: DataFrame => Unit): Unit = {
    val dead = tombstones.getOrElse(return)
    if (minDeadFraction > 0.0 &&
        deadStats(keys, tombstones)._3 < minDeadFraction) return
    rewrite(dead)
    val t = new org.apache.hadoop.fs.Path(s"$artifact/$TombstonesRel")
    t.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(t, true)
  }

  /**
   * Reclaim unreachable artifacts from a shared cache root — the storage
   * lifecycle that bounds the cache under ingest-rebuild cadence. Every
   * mutate-then-rebuild cycle publishes a NEW full-size artifact under a
   * new content key; without reclamation the root grows by one
   * corpus-scale directory per cycle. An artifact is removed when it can
   * never be served or appended-from again:
   *
   *  - its recorded source dir no longer exists;
   *  - some ingested file is changed or absent in the current source
   *    (`openOrBuild` would rebuild rather than serve it, and `growFrom`
   *    would never append from it);
   *  - a LIVE artifact (manifest == current source) exists for the same
   *    (source, params), making every strict-subset sibling — append
   *    feedstock only — superseded; with no live artifact, the LARGEST
   *    subset is kept (it is the best append base) and smaller ones go;
   *  - it is a `.build-` staging dir (a crashed builder's leftover —
   *    only a rename publishes, so it can never be served).
   *
   * Pre-source-header manifests (older artifacts) record no source path
   * and are conservatively KEPT — reachability cannot be decided from a
   * one-way dir-name hash. `olderThanMs` (default 1 h) is the race
   * guard for the shared root: only dirs untouched for at least that
   * long are reclaimed (another session may still hold a just-superseded
   * path — same single-writer maintenance-window discipline as on-disk
   * compaction, SCALE.md). Staging dirs get a stronger guard than
   * mtime — a long fit writes into NESTED subdirs, which never touches
   * the staging dir's own mtime — so a `.build-<pid>-…` dir is reaped
   * only when its builder process is no longer alive. `keep` is the
   * same-session registration guard (ADVICE r14): artifact paths a live
   * [[graft.plans.AnnIndexRegistry]] entry still references are never
   * reclaimed even when stale-by-manifest (a source rewritten in place
   * while its registration survives) — reaping one would turn the next
   * index-served query into a missing-path exception instead of a
   * fallback. Callers in a registry-bearing session pass
   * `AnnIndexRegistry.livePaths`. Returns the removed paths.
   */
  def gc(cacheRoot: String, olderThanMs: Long = 3600000L,
      keep: Set[String] = Set.empty): Seq[String] = {
    val now = System.currentTimeMillis()
    val keepAbs = keep.map(p => new java.io.File(p).getAbsolutePath)
    val removed = scala.collection.mutable.ArrayBuffer.empty[String]
    def reap(d: java.io.File): Unit =
      if (now - d.lastModified() >= olderThanMs &&
          !keepAbs.contains(d.getAbsolutePath)) {
        deleteRecursively(d)
        // a partially-failed delete must not report as reclaimed (the
        // dir also goes recordless-from-manifest — kept forever — so
        // the operator needs the honest signal)
        if (!d.exists()) removed += d.getPath
      }
    val dirs = Option(new java.io.File(cacheRoot).listFiles()).toSeq.flatten
      .filter(_.isDirectory)
    val (staging, published) = dirs.partition(_.getName.contains(".build-"))
    staging.foreach { d =>
      val pid = d.getName.split("\\.build-").lift(1)
        .flatMap(_.split("-").headOption)
        .flatMap(s => scala.util.Try(s.toLong).toOption)
      // an unparseable pid is treated as dead (not a name this cache
      // ever writes); a live builder's staging dir is never touched
      if (!pid.exists(p => java.lang.ProcessHandle.of(p).isPresent()))
        reap(d)
    }
    final case class Pub(dir: java.io.File, source: String,
        ingested: Set[String])
    val pubs = published.flatMap { d =>
      val mf = new java.io.File(d, ManifestRel)
      if (!mf.isFile) None // unpublished/foreign dir: not ours to reap
      else {
        val lines = new String(
          java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
          .split("\n").filter(_.nonEmpty)
        lines.find(_.startsWith(SourceHeader))
          .map(h => Pub(d, h.stripPrefix(SourceHeader),
            lines.filterNot(_.startsWith(SourceHeader)).toSet))
      }
    }
    // params fingerprint = dir-name suffix after the 32-hex content key
    def paramsOf(d: java.io.File): String = d.getName.drop(33)
    pubs.groupBy(p => (p.source, paramsOf(p.dir))).foreach {
      case ((source, _), group) =>
        // source liveness through the path's Hadoop FileSystem, not a
        // blind java.io probe (r17, the rollup-gc ADVICE twin): a LIVE
        // corpus on a remote scheme — or a scheme-less path resolving
        // through a remote fs.defaultFS — must never read as "missing",
        // and its artifacts can't be judged by the LOCAL manifest walk
        // (an empty local listing would mark every manifest stale).
        // Missing (0) → reap the group; local live (1) → the local
        // manifest subset logic; remote-and-present (2) → the SAME
        // subset logic over the bounded remote listing (remote-built
        // manifests record the three-field listing entries), except an
        // empty/failed listing is cannot-judge → keep (fail-safe, also
        // covers unresolvable schemes).
        val state: Int = scala.util.Try {
          val p = new org.apache.hadoop.fs.Path(source)
          val conf = scala.util.Try(org.apache.spark.sql.SparkSession
              .active.sparkContext.hadoopConfiguration)
            .getOrElse(new org.apache.hadoop.conf.Configuration())
          val fs = p.getFileSystem(conf)
          if (!fs.exists(fs.makeQualified(p))) 0
          else if (fs.getScheme == "file") 1
          else 2
        }.getOrElse(2)
        val judged: Option[Option[Set[String]]] = state match {
          case 0 => Some(None)
          case 1 => Some(Some(entriesOf(dataFiles(source), source).toSet))
          case _ =>
            val cur = remoteListing(source)._1
            if (cur.isEmpty) None else Some(Some(cur.toSet))
        }
        judged.foreach {
          case None => group.foreach(p => reap(p.dir))
          case Some(cur) =>
            val (reachable, stale) = group.partition(_.ingested.subsetOf(cur))
            stale.foreach(p => reap(p.dir))
            val (live, subsets) = reachable.partition(_.ingested == cur)
            if (live.nonEmpty) subsets.foreach(p => reap(p.dir))
            else subsets.sortBy(-_.ingested.size).drop(1)
              .foreach(p => reap(p.dir))
        }
    }
    removed.toSeq
  }

  /** Atomic-rename publish with the lost-race discipline: a concurrent
    * winner is served only if its success marker proves completeness; a
    * stale partial dir at the key path is removed and the move retried. */
  private[graft] def publish(staging: java.io.File, target: java.io.File,
      successRel: String): Unit =
    // the no-leak invariant is enforced at THIS boundary: any failure to
    // publish — including unanticipated IO errors outside the race
    // handling below — removes the staging dir before propagating
    // (deleteRecursively is a no-op after a successful move)
    try publishInner(staging, target, successRel)
    catch { case t: Throwable => deleteRecursively(staging); throw t }

  private def publishInner(staging: java.io.File, target: java.io.File,
      successRel: String): Unit = {
    def move(): Unit = java.nio.file.Files.move(staging.toPath, target.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    try move()
    catch {
      case _: java.nio.file.FileAlreadyExistsException
         | _: java.nio.file.FileSystemException if target.isDirectory =>
        if (new java.io.File(target, successRel).isFile) deleteRecursively(staging)
        else {
          deleteRecursively(target)
          try move()
          catch {
            case e2 @ (_: java.nio.file.FileAlreadyExistsException
                     | _: java.nio.file.FileSystemException) =>
              // lost a second race: if the winner is complete, serve it;
              // otherwise fail WITHOUT leaking our staging dir into the
              // shared cache root (the no-leak invariant must hold on
              // every exit path)
              deleteRecursively(staging)
              if (!new java.io.File(target, successRel).isFile) throw e2
          }
        }
    }
  }

  /** CRC32 of the first 64 KiB — cheap content signal for the fingerprint. */
  private def headCrc(f: java.io.File): Long = {
    val crc = new java.util.zip.CRC32()
    val in = new java.io.FileInputStream(f)
    try {
      val buf = new Array[Byte](65536)
      val n = in.read(buf)
      if (n > 0) crc.update(buf, 0, n)
    } finally in.close()
    crc.getValue
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
