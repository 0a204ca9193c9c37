package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}

/** The on-disk protocol the three persisted indexes share — the
  * signature index ([[Dedup.writeSignatureIndex]]), the inverted text
  * index ([[TextIndex]]) and the IVF-PQ index
  * ([[Similarity.writeIvfPqIndex]]). An index is a `root` dir holding a
  * JSON sidecar (the meta — the index's commit record), an optional
  * pending-append marker, and one or more RELATIONS: bucket-partitioned
  * parquet dirs (`dir/<bucketCol>=<v>/part-*.parquet`). The index
  * modules own only what differs: the sidecar's fields, the relation
  * transforms and the refusal wording; this store owns every file-system
  * step of the lifecycle.
  *
  * LAYOUT. For a relation dir `P/N` the rewrite tmp is `P/_compact_tmp/N`
  * and the stash is `P/_N_old` (signature: `root/_compact_tmp/docs`,
  * `root/_docs_old`; IVF-PQ: `root/_codes_old`; the text index, whose
  * relation IS its root, stages beside it). `_compact_tmp` is removed
  * once a rewrite has left it empty. Spark skips `_`-prefixed names, so
  * staging is never read as data.
  *
  * APPEND. [[writeMarker]] (`root/_pending_append.json`, the batch's id
  * range) goes down BEFORE the first relation append and [[clearMarker]]
  * runs only AFTER the sidecar commit. While a marker exists every entry
  * point refuses ([[readSidecar]]): the sidecar's maxId could no longer
  * arm the monotone double-append guard, so a retry would double-insert.
  *
  * REWRITE ([[rewrite]], compaction and removal), in this order:
  *  1. refusals — the marker, then any stash (a prior rewrite crashed
  *     mid-swap; renaming onto a surviving stash would nest the live dir
  *     inside it);
  *  2. with `compactOnly`, only relations with a multi-file bucket are
  *     rewritten, and an index with none returns here — no Spark job, no
  *     byte changed;
  *  3. one [[JobPar.run]]: every relation's tmp write plus the caller's
  *     `removed` thunk (which may refuse, e.g. refuse-to-empty), then the
  *     caller builds the new sidecar (which may refuse too). Any failure
  *     deletes the tmp and rethrows — the live index is untouched;
  *  4. every rewritten relation is renamed to its stash;
  *  5. every tmp is renamed into place;
  *  6. the sidecar is written — THE COMMIT;
  *  7. the stashes and the tmp are deleted.
  *
  * Every relation moves aside before any new one moves in, so a crash
  * never leaves a mix of old and new relations:
  *  - before 4: the pre-op index, plus tmp debris the next rewrite
  *    overwrites and a rebuild clears;
  *  - in 4 or 5: some relation dir (or, for the text index, the
  *    sidecar) is missing while its stash exists — every entry point
  *    refuses with the recovery ([[readSidecar]], [[read]]);
  *  - after 5: the relations are complete (post-op before 6's commit,
  *    when only the sidecar's counters still predate the op). Probes
  *    serve, while appends and rewrites refuse on the stash.
  *
  * REBUILD. Each index's full write ends with [[reset]] — marker, every
  * stash and the tmp cleared — which makes it the recovery every
  * refusal names.
  *
  * READS. [[bucketFileCounts]] is the bucket census behind
  * `maintenanceDue` and step 2; [[read]] is `spark.read.parquet(dir)`
  * with the schema DECLARED — the one Spark stored in a data file's
  * footer plus the bucket column as partition inference types it —
  * because inference runs a one-task Spark job per read. Both are
  * file listings plus at most one footer read: no Spark job.
  */
private[graft] final case class IndexStore(spark: SparkSession, root: String,
    sidecar: String, rebuild: String, relations: Seq[(String, String)]) {
  import IndexStore._

  private val fs = fsOf(spark, new Path(root))
  private def markerPath = new Path(root, "_pending_append.json")
  private def sidecarPath = new Path(root, sidecar)
  private def live(dir: String) = fs.makeQualified(new Path(dir))
  private def stashes = relations.map(r => stashOf(live(r._1)))
  private def tmpOf(dir: String) =
    new Path(new Path(live(dir).getParent, "_compact_tmp"), live(dir).getName)

  def writeMarker(minId: Long, maxId: Long, n: Long): Unit =
    write(markerPath, s"""{"minId":$minId,"maxId":$maxId,"n":$n}""")

  def clearMarker(): Unit = fs.delete(markerPath, false)

  def writeSidecar(raw: String): Unit = write(sidecarPath, raw)

  /** The sidecar's text, after the read-side refusals: a pending marker,
    * and a relation dir or the sidecar missing while a stash exists. */
  def readSidecar(): String = {
    if (fs.exists(markerPath))
      throw new IllegalStateException(
        s"$root: _pending_append.json present — a previous append crashed " +
          s"before committing its $sidecar. Rebuild with $rebuild (or remove " +
          "the marked id range manually), then delete the marker.")
    relations.foreach(r => requireLive(fs, live(r._1)))
    if (!fs.exists(sidecarPath)) stashes.find(fs.exists).foreach(s =>
      throw new IllegalStateException(s"$sidecarPath is missing while the " +
        s"stash $s exists — a compact/remove crashed mid-swap. Rebuild with " +
        s"$rebuild (it clears the stash)."))
    val in = fs.open(sidecarPath)
    try {
      val buf = new Array[Byte](fs.getFileStatus(sidecarPath).getLen.toInt)
      in.readFully(0, buf); new String(buf, "UTF-8")
    } finally in.close()
  }

  /** [[readSidecar]] for a step that changes the index: also refuses
    * while any stash survives. */
  def readSidecarForUpdate(): String = {
    val raw = readSidecar()
    stashes.find(fs.exists).foreach(s => throw new IllegalStateException(
      s"$root: stale $s present — a previous compact/remove crashed " +
        s"mid-swap. Rebuild with $rebuild (it clears the stash), then retry."))
    raw
  }

  /** Steps 1-7 of the REWRITE (class doc). `transform` maps each live
    * relation to its new content; `commit` turns the old sidecar text and
    * `removed`'s result into the new sidecar. */
  def rewrite[R](compactOnly: Boolean, transform: DataFrame => DataFrame,
      removed: () => R)(commit: (String, R) => String): Unit = {
    val old = readSidecarForUpdate()
    val dirs = relations.filter(r => !compactOnly || needsCompaction(spark, r._1))
    if (dirs.isEmpty) return
    @volatile var res: Option[R] = None
    val next = try {
      JobPar.run(dirs.map { case (dir, bucketCol) => () =>
        transform(read(spark, dir)).repartition(col(bucketCol))
          .write.mode("overwrite").partitionBy(bucketCol)
          .parquet(tmpOf(dir).toString)
      } :+ (() => res = Some(removed())): _*)
      commit(old, res.get)
    } catch { case e: Throwable => deleteTmp(dirs); throw e }
    for ((dir, _) <- dirs) rename(live(dir), stashOf(live(dir)))
    for ((dir, _) <- dirs) rename(tmpOf(dir), live(dir))
    writeSidecar(next)
    for ((dir, _) <- dirs) fs.delete(stashOf(live(dir)), true)
    deleteTmp(dirs)
  }

  /** Clear all staging — marker, every stash, the tmp — once a full
    * write has produced a fresh index. */
  def reset(): Unit = {
    clearMarker()
    stashes.foreach(fs.delete(_, true))
    deleteTmp(relations)
  }

  private def rename(from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new IllegalStateException(s"$root: could not rename $from to " +
        s"$to — Rebuild with $rebuild")

  // `_compact_tmp` may be shared (text indexes stage beside their root),
  // so only an EMPTY one is removed
  private def deleteTmp(dirs: Seq[(String, String)]): Unit = {
    dirs.foreach(r => fs.delete(tmpOf(r._1), true))
    dirs.map(r => tmpOf(r._1).getParent).distinct.foreach { d =>
      if (fs.exists(d) && fs.listStatus(d).isEmpty) fs.delete(d, false)
    }
  }

  private def write(p: Path, raw: String): Unit = {
    val os = fs.create(p, true)
    try os.write(raw.getBytes("UTF-8")) finally os.close()
  }
}

private[graft] object IndexStore {

  /** The replay record of the last committed append, as sidecar fields:
    * `"lastMin"`, `"lastMax"`, `"lastN"` (the batch's id range and size)
    * and `"lastFp"` (its id fingerprint), each group only when set. The
    * three index sidecars embed it; [[parseReplay]] reads it back.
    */
  def replayFields(last: Option[(Long, Long, Long)],
      lastFp: Option[Long]): Seq[String] =
    last.toSeq.flatMap { case (mn, mx, c) =>
      Seq(s""""lastMin":$mn""", s""""lastMax":$mx""", s""""lastN":$c""")
    } ++ lastFp.map(f => s""""lastFp":$f""")

  def parseReplay(raw: String): (Option[(Long, Long, Long)], Option[Long]) =
    (for (mn <- optLong(raw, "lastMin"); mx <- optLong(raw, "lastMax");
      c <- optLong(raw, "lastN")) yield (mn, mx, c), optLong(raw, "lastFp"))

  /** The integer field `key` of a sidecar's text, when present. */
  def optLong(raw: String, key: String): Option[Long] =
    ("\"" + key + "\":(-?[0-9]+)").r.findFirstMatchIn(raw).map(_.group(1).toLong)

  // Spark skips `_`/`.` names (`_SUCCESS`, checksums, staging) when it reads
  private def visible(p: Path): Boolean =
    !p.getName.startsWith("_") && !p.getName.startsWith(".")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def stashOf(dir: Path) = new Path(dir.getParent, s"_${dir.getName}_old")

  /** `dir` exists, or refuses when only its stash does (a rewrite crashed
    * between moving it aside and moving its new copy in). */
  private def requireLive(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) || {
      val s = stashOf(fs.makeQualified(dir))
      if (fs.exists(s)) throw new IllegalStateException(
        s"$dir is missing while the stash $s exists — a compact/remove " +
          "crashed mid-swap. Rebuild the index (it clears the stash).")
      false
    }

  private def bucketDirs(fs: FileSystem, root: Path): Seq[Path] =
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && visible(s.getPath)).map(_.getPath)

  private def dataFiles(fs: FileSystem, bucket: Path): Seq[FileStatus] =
    fs.listStatus(bucket).toSeq.filter(f => f.isFile && visible(f.getPath))

  /** Number of data files in each bucket directory of `dir`. */
  def bucketFileCounts(spark: SparkSession, dir: String): Seq[Int] = {
    val root = new Path(dir)
    val fs = fsOf(spark, root)
    requireLive(fs, root)
    bucketDirs(fs, root).map(dataFiles(fs, _).size)
  }

  /** Some bucket of `dir` holds more than one data file — the only state
    * in which a compaction rewrite of the relation changes anything. */
  def needsCompaction(spark: SparkSession, dir: String): Boolean =
    bucketFileCounts(spark, dir).exists(_ > 1)

  /** Read relation `dir` without a schema-inference job. Falls back to
    * inference when there is no data file to take the schema from — an
    * empty relation, which inference refuses as it always did.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    schemaOf(spark, dir).fold(spark.read.parquet(dir))(
      spark.read.schema(_).parquet(dir))

  private[graft] def schemaOf(spark: SparkSession, dir: String): Option[StructType] = {
    val root = new Path(dir)
    val fs = fsOf(spark, root)
    if (!requireLive(fs, root)) return None
    val buckets = bucketDirs(fs, root)
    buckets.iterator.flatMap(dataFiles(fs, _)).nextOption()
      .flatMap(f => footerSchema(spark, f.getPath))
      .map { s =>
        val kv = buckets.map(_.getName.split("=", 2))
        // partition inference types integral values INT, widening to
        // BIGINT (IVF-PQ list ids are vector ids, which may not fit INT)
        val t = if (kv.forall(_(1).toIntOption.isDefined)) IntegerType else LongType
        StructType(s.fields :+ StructField(kv.head(0), t))
      }
  }

  private def footerSchema(spark: SparkSession, file: Path): Option[StructType] = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file,
        spark.sparkContext.hadoopConfiguration))
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson(_)).collect { case s: StructType => s }
    finally reader.close()
  }
}
