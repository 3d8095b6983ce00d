package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType

/** The one store-commit module. Every incremental store (seen/near
  * fingerprints, vocabulary, host-graph and counts partials, temporal
  * versions, classifier features, IVF index, classifier model) reads,
  * appends, compacts, swaps directories and writes sidecars through the
  * primitives here; no other main source renames a file
  * (SourceGuardSpec pins it, WarcReader's executor-side part commit
  * aside).
  *
  * **Crash contract.** One writer per store at a time; a crash at any
  * point leaves a state the next call reads or recovers:
  *   - Data files land through one routine ([[appendCountedFiles]],
  *     [[compact]]). The frame is written to a staging directory that
  *     readers never list (the sibling `<store>_append_tmp` for appends;
  *     `<store>/_compact_tmp` for compactions), its `part-` files rename
  *     into the store under a unique `<prefix>-<tag>-` name, and only
  *     then are the files it replaces deleted. A crash during the staging
  *     write leaves the store byte-identical, and the next call deletes
  *     the stale staging dir. A crash mid-rename leaves part of the new
  *     file set; a crash before the old files go leaves old and new
  *     together. Both read as duplicate rows. Key stores tolerate them
  *     (distinct probes, anti-join appends, the as-of window's last()),
  *     their sidecar row-count markers read stale and rebuild, and the
  *     next compaction removes the duplicates. Count stores (vocabulary,
  *     host-graph, Dsir counts: partials summed on read) double-count
  *     them, and a later compaction folds the double count in, so a
  *     crashed count-store compaction needs operator repair. An
  *     appending caller's re-run story (at-least-once, idempotent
  *     anti-join) is unchanged by where it crashed.
  *   - Directories commit through [[swapDir]]: the new generation is
  *     complete under a tmp sibling before the current one is retired to
  *     an old sibling, the tmp renames in, the old is deleted. Every
  *     crash window leaves the path or its retired generation, and
  *     [[restoreRetired]] (which every swap runs first) brings a retired
  *     generation back when the path is absent. A failed commit restores
  *     it at once. A reader inside the two-rename window fails loudly on
  *     the absent path: loud beats silently wrong.
  *   - Sidecar files commit through [[writeFileAtomic]]: a reader sees
  *     the old file or the complete new one, never a truncated body.
  *     Markers are written after the data they describe, so a crash
  *     leaves them stale, never wrong.
  *
  * Reads probe existence through the Hadoop FS API BEFORE calling
  * `read.parquet`: Spark logs an AnalysisException stack for
  * PATH_NOT_FOUND even when the caller catches it. Only a genuinely
  * ABSENT root counts as empty — any transient FS failure (from `exists`
  * or the read itself) must propagate, or dedup would silently run
  * against an empty set and leak every known duplicate. */
object Stores {

  def hadoopFs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Some(frame) when `path` exists, None when absent — without ever
    * surfacing a logged AnalysisException for the expected-absent case.
    *
    * With `schema`, the read skips Parquet's footer schema inference (one
    * Spark job per read). A forced schema would read a missing column as
    * all-null — a near (`sim`) store handed to an exact stage would then
    * silently leak every duplicate — so the schema is first checked
    * against one data file's footer, read on the driver (no job): every
    * field must be present with its type, or the read fails. */
  def readParquetIfExists(spark: SparkSession, path: String,
      schema: Option[StructType] = None): Option[DataFrame] =
    if (!hadoopFs(spark, path).exists(new Path(path))) None
    else schema match {
      case None => Some(spark.read.parquet(path))
      case Some(s) =>
        checkFooterSchema(spark, path, s)
        Some(spark.read.schema(s).parquet(path))
    }

  /** Fail unless the first data file of the store at `path` holds every
    * field of `want` with the same type. */
  private def checkFooterSchema(spark: SparkSession, path: String,
      want: StructType): Unit = {
    val dataFile = dataFiles(spark, path).headOption
      .getOrElse(sys.error(s"store $path exists but holds no parquet data file"))
    val have = footers(spark, Seq(dataFile))(r =>
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter()
        .convert(r.getFooter.getFileMetaData.getSchema)).head
    val bad = want.fields.filterNot(f =>
      have.fields.exists(h => h.name == f.name && h.dataType == f.dataType))
    if (bad.nonEmpty)
      sys.error(s"store $path does not match the expected schema: wants " +
        bad.map(f => s"${f.name} ${f.dataType.simpleString}").mkString(", ") +
        s", its data file $dataFile holds ${have.simpleString}")
  }

  /** The store's data files: plain files directly under `path`, skipping
    * `_`/`.`-prefixed names as Spark's discovery does (sidecars, staging
    * dirs, checksums). Empty for an absent store. Compaction triggers
    * gate on this count: every append adds a file set, and reads pay one
    * footer per file. */
  def dataFiles(spark: SparkSession, path: String): Seq[Path] = {
    val fs = hadoopFs(spark, path)
    val root = new Path(path)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath)
  }

  /** The store's row count: the sum of the footer row counts of its
    * [[dataFiles]], read on the driver with no Spark job; 0 for an absent
    * store. It counts exactly the rows `spark.read.parquet(path).count()`
    * counts (duplicates a crashed write left included), so sidecar
    * markers compare with it. It costs one footer read per data file, and
    * a store's `compact_files` trigger bounds that number. */
  def rowCount(spark: SparkSession, path: String): Long =
    footers(spark, dataFiles(spark, path))(_.getRecordCount).sum

  /** `read` over the Parquet footer of each of `files`, opened on the
    * driver. The read options are built once per call: building them
    * copies the Hadoop configuration, which costs more than a footer
    * read (measured 6 ms against 0.2 ms on a local file). */
  private def footers[A](spark: SparkSession, files: Seq[Path])(
      read: org.apache.parquet.hadoop.ParquetFileReader => A): Seq[A] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val options = org.apache.parquet.HadoopReadOptions.builder(conf).build()
    files.map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf), options)
      try read(reader) finally reader.close()
    }
  }

  /** `<path><suffix>` as a SIBLING of path, built via parent+name: string
    * concat on a trailing-slash config path would silently produce a
    * CHILD of the directory, and renaming a directory under itself fails
    * forever. */
  def sibling(path: String, suffix: String): Path = {
    val p = new Path(path) // normalizes trailing slashes
    Option(p.getParent)
      .map(new Path(_, p.getName + suffix))
      .getOrElse(new Path(p.getName + suffix))
  }

  /** The landing routine behind every store write. Writes `df` to
    * `staging` (a stale one from a crashed call is deleted first) and
    * counts its rows in that same action (`Observation` on the frame the
    * write executes, so the count sits in the result stage and a re-run
    * shuffle map stage cannot add to it). Then renames the `part-` files
    * into `root` as `<prefix>-<tag>-part-…`, deletes `staging`, and
    * deletes the `replaced` files last. An empty append lands nothing; a
    * rewrite that replaces files always lands, so the store keeps a
    * schema-bearing file. Returns (rows, landed file paths). */
  private def land(df: DataFrame, staging: Path, root: Path, prefix: String,
      replaced: Seq[Path]): (Long, Seq[String]) = {
    val fs = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(staging)) fs.delete(staging, true)
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(staging.toString)
    val n = obs.get("n").asInstanceOf[Long]
    val landed =
      if (n == 0 && replaced.isEmpty) Seq.empty
      else {
        if (!fs.exists(root)) fs.mkdirs(root)
        val tag = java.util.UUID.randomUUID().toString.take(8)
        fs.listStatus(staging).toSeq
          .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
          .map { st =>
            val dst = new Path(root, s"$prefix-$tag-${st.getPath.getName}")
            if (!fs.rename(st.getPath, dst))
              sys.error(s"Stores: rename failed for ${st.getPath}")
            dst.toString
          }
      }
    fs.delete(staging, true)
    replaced.foreach(fs.delete(_, false))
    (n, landed)
  }

  /** ONE-JOB counted append: the count rides the write itself, so
    * count-vs-write consistency is structural — the frame is evaluated
    * exactly once, and executor loss during that job is ordinary task
    * retry. Lands under `append-` from the sibling `<store>_append_tmp`
    * (a sibling, never a child: a crash would leave a child inside a
    * possibly not-yet-existing store and turn a first read into a
    * no-schema failure).
    *
    * Returns (rows appended, landed file paths): the paths let sidecar
    * updates (Bloom fold-in, banded rows) re-read EXACTLY the appended
    * rows without recomputing the increment's plan. */
  def appendCountedFiles(df: DataFrame,
      storePath: String): (Long, Seq[String]) =
    land(df, sibling(storePath, "_append_tmp"), new Path(storePath), "append", Nil)

  /** [[appendCountedFiles]] when the caller only needs the count. */
  def appendCounted(df: DataFrame, storePath: String): Long =
    appendCountedFiles(df, storePath)._1

  /** Compact a store in place: `rewrite` its rows (distinct for key
    * stores, summed partials for count stores, version dedup for the
    * temporal store) into at most `targetFiles` files under `compact-`,
    * then delete the old files. A known `schema` reads the store without
    * the footer-inference job ([[readParquetIfExists]]). Returns the
    * rewrite's row count; 0 for a store with no data files. */
  def compact(spark: SparkSession, storePath: String, targetFiles: Int,
      schema: Option[StructType])(rewrite: DataFrame => DataFrame): Long = {
    val old = dataFiles(spark, storePath) // listed BEFORE the new files land
    if (old.isEmpty) 0L
    else {
      val root = new Path(storePath)
      val store = readParquetIfExists(spark, storePath, schema).get
      land(rewrite(store).repartition(math.max(targetFiles, 1)),
        new Path(root, "_compact_tmp"), root, "compact", old)._1
    }
  }

  /** Bring the retired generation `old` back to `path` when `path` is
    * absent (a swap that crashed between retire and commit). */
  def restoreRetired(spark: SparkSession, path: String, old: Path): Unit = {
    val fs = hadoopFs(spark, path)
    val root = new Path(path)
    if (!fs.exists(root) && fs.exists(old))
      require(fs.rename(old, root),
        s"Stores: could not restore the retired generation $old at $path")
  }

  /** Commit the complete directory `tmp` as `path`, keeping the current
    * generation at `old` until the commit lands. A failed commit restores
    * the retired generation before failing, so a failed swap never leaves
    * `path` empty. */
  def swapDir(spark: SparkSession, path: String, tmp: Path, old: Path): Unit = {
    val fs = hadoopFs(spark, path)
    val root = new Path(path)
    restoreRetired(spark, path, old)
    if (fs.exists(root)) {
      if (fs.exists(old)) fs.delete(old, true)
      require(fs.rename(root, old),
        s"Stores: could not retire the current generation at $path")
    }
    if (!fs.rename(tmp, root)) {
      if (fs.exists(old)) fs.rename(old, root)
      sys.error(s"Stores: could not commit $tmp into $path")
    }
    fs.delete(old, true)
  }

  /** Move `src` to `dst`, replacing whatever `dst` held. */
  def moveOver(spark: SparkSession, src: Path, dst: Path): Unit = {
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dst)) fs.delete(dst, true)
    if (!fs.rename(src, dst)) sys.error(s"Stores: could not move $src to $dst")
  }

  /** Write a small file atomically: `body` writes `<target><tmpSuffix>`,
    * which then moves over `target`. A crash leaves the old file (or
    * none) plus a dangling tmp that no reader opens. */
  def writeFileAtomic(spark: SparkSession, target: Path, tmpSuffix: String)(
      body: java.io.DataOutputStream => Unit): Unit = {
    val tmp = new Path(target.getParent, target.getName + tmpSuffix)
    val out = new java.io.DataOutputStream(
      tmp.getFileSystem(spark.sparkContext.hadoopConfiguration).create(tmp, true))
    try body(out) finally out.close()
    moveOver(spark, tmp, target)
  }
}
