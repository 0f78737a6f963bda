package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistence primitives for the prebuilt ANN indexes
  * ([[Similarity.LshIndex]]/[[Similarity.IvfIndex]]/[[Similarity.PqIndex]]/
  * [[Similarity.IvfPqIndex]]) and the streaming near-dup base index.
  *
  * Layout (version 2): one directory per index —
  * {{{
  * dir/
  *   _graft_index.json   tiny sidecar: kind + integer params (version, dim…)
  *   corpus/             the distributed frames, plain parquet
  *   buckets|lists|codes/
  *   centroids           model arrays, one small binary file each:
  *   codebooks           header + little-endian IEEE doubles, bit-exact
  * }}}
  *
  * The distributed frames are written as ordinary parquet (at 100 TB these
  * are object-store writes sized by the frame's own partitioning — no
  * coalesce). The model artifacts (IVF centroids ≤ 64×dim doubles, PQ
  * codebooks ≤ 8×256×sub) are driver-side arrays, so the driver writes and
  * reads them itself through the FileSystem, like the sidecar: no Spark
  * job, no query plan, no generated code. See [[saveMatrix]] for the file
  * format. All paths go through Hadoop's FileSystem API, so `dir` may be
  * local, HDFS, or s3a://.
  *
  * Version 1 stored the model arrays as parquet tables of (i, j?, v) rows.
  * This build refuses a version-1 directory with a message that names
  * both versions ([[readMeta]]); rebuild and re-save such an index.
  *
  * Load rebuilds an index whose query results are BIT-IDENTICAL to the
  * in-session original: every top-k path breaks ties deterministically
  * (sim desc then id), so parquet's row-order shuffle cannot change output.
  */
object IndexIO {

  /** Bump when the on-disk layout changes incompatibly. 2: model arrays
    * are binary files written on the driver (1: parquet tables). */
  val Version = 2

  private def fs(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Write the JSON sidecar (kind tag + integer params only — doubles
    * never travel through text). */
  private[graft] def writeMeta(
      spark: SparkSession, dir: String, kind: String,
      params: Map[String, Long]): Unit = {
    val (hfs, base) = fs(spark, dir)
    val fields = (Map("version" -> Version.toLong) ++ params)
      .toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }
    val json = s"""{"kind":"$kind",${fields.mkString(",")}}"""
    val out = hfs.create(
      new org.apache.hadoop.fs.Path(base, "_graft_index.json"), true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def sidecarJson(spark: SparkSession, dir: String): String = {
    val (hfs, base) = fs(spark, dir)
    val p = new org.apache.hadoop.fs.Path(base, "_graft_index.json")
    require(hfs.exists(p), s"not a graft index dir (no _graft_index.json): $dir")
    val in = hfs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  private def kindOf(json: String, dir: String): String =
    """"kind":"([a-z0-9_]+)"""".r
      .findFirstMatchIn(json).map(_.group(1))
      .getOrElse(throw new IllegalArgumentException(s"no kind at $dir: $json"))

  /** The sidecar's kind tag alone — kind-agnostic recovery tooling
    * ([[indexFoldRecover]]) reads it to pick the frame set. */
  private[graft] def readKind(spark: SparkSession, dir: String): String =
    kindOf(sidecarJson(spark, dir), dir)

  /** Read + validate the sidecar; returns the integer params. */
  private[graft] def readMeta(
      spark: SparkSession, dir: String, expectKind: String)
      : Map[String, Long] = {
    val json = sidecarJson(spark, dir)
    val kind = kindOf(json, dir)
    require(kind == expectKind,
      s"index at $dir is kind '$kind', expected '$expectKind'")
    val params = """"([a-z_]+)":(-?\d+)""".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    val v = params.getOrElse("version", -1L)
    require(v == Version,
      s"index at $dir has layout version $v; this build reads only " +
        s"version $Version (model arrays as binary files since version " +
        "2): rebuild the index and save it again")
    params
  }

  /** Magic bytes that open every model-array file. */
  private val ArrayMagic = "GRAFTF64".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Persist a driver-side double matrix (rows may differ in length) as
    * one binary file at `path`, written on the driver. Format, all
    * integers and doubles little-endian:
    * {{{
    * "GRAFTF64"  rank:int32  then the nested array
    * array of rank 1 = n:int32, n doubles (IEEE 754 raw bits)
    * array of rank r = n:int32, n arrays of rank r − 1
    * }}}
    * Raw bits make the round trip bit-exact for every value, NaN payloads,
    * −0.0 and subnormals included. An existing file or directory at
    * `path` is replaced. */
  private[graft] def saveMatrix(
      spark: SparkSession, path: String, m: Array[Array[Double]]): Unit =
    writeArrays(spark, path, 2, m.length, i => writeRow(_, m(i)),
      8 + m.map(r => 4 + 8 * r.length).sum)

  private[graft] def loadMatrix(
      spark: SparkSession, path: String): Array[Array[Double]] = {
    val b = readArrays(spark, path, 2)
    val m = Array.fill(length(b, 4, path))(readRow(b, path))
    requireConsumed(b, path)
    m
  }

  /** Persist a driver-side rank-3 double tensor (PQ codebooks: subspace,
    * code, codeword) in [[saveMatrix]]'s format with rank 3. */
  private[graft] def saveTensor(
      spark: SparkSession, path: String,
      t: Array[Array[Array[Double]]]): Unit =
    writeArrays(spark, path, 3, t.length, i => { b =>
        b.putInt(t(i).length)
        t(i).foreach(writeRow(b, _))
      },
      8 + t.map(m => 4 + m.map(r => 4 + 8 * r.length).sum).sum)

  private[graft] def loadTensor(
      spark: SparkSession, path: String): Array[Array[Array[Double]]] = {
    val b = readArrays(spark, path, 3)
    val t = Array.fill(length(b, 4, path))(
      Array.fill(length(b, 4, path))(readRow(b, path)))
    requireConsumed(b, path)
    t
  }

  private def writeRow(b: java.nio.ByteBuffer, r: Array[Double]): Unit = {
    b.putInt(r.length)
    r.foreach(x => b.putLong(java.lang.Double.doubleToRawLongBits(x)))
  }

  private def readRow(b: java.nio.ByteBuffer, path: String): Array[Double] =
    Array.fill(length(b, 8, path))(
      java.lang.Double.longBitsToDouble(b.getLong()))

  /** The next array length, checked against the bytes left: each entry
    * takes at least `entryBytes`, so a corrupt length fails here instead
    * of allocating. */
  private def length(b: java.nio.ByteBuffer, entryBytes: Int,
      path: String): Int = {
    require(b.remaining >= 4, s"$path ends inside an array header")
    val n = b.getInt()
    require(n >= 0 && n.toLong * entryBytes <= b.remaining,
      s"$path holds a corrupt array length $n")
    n
  }

  /** Header, then `n` top-level entries written by `entry(i)`; `bytes` is
    * the body size after the magic (rank and everything below it). */
  private def writeArrays(spark: SparkSession, path: String, rank: Int,
      n: Int, entry: Int => java.nio.ByteBuffer => Unit,
      bytes: Long): Unit = {
    require(bytes + ArrayMagic.length <= Int.MaxValue,
      s"model array for $path is $bytes bytes; the limit is ${Int.MaxValue}")
    val b = java.nio.ByteBuffer
      .allocate(ArrayMagic.length + bytes.toInt)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(ArrayMagic).putInt(rank).putInt(n)
    (0 until n).foreach(entry(_)(b))
    val (hfs, p) = fs(spark, path)
    if (hfs.exists(p)) hfs.delete(p, true)
    val out = hfs.create(p, true)
    try out.write(b.array(), 0, b.position()) finally out.close()
  }

  private def readArrays(spark: SparkSession, path: String,
      rank: Int): java.nio.ByteBuffer = {
    val (hfs, p) = fs(spark, path)
    require(hfs.exists(p) && hfs.getFileStatus(p).isFile,
      s"no model array file at $path")
    val in = hfs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= ArrayMagic.length + 8 &&
        java.util.Arrays.equals(bytes.take(ArrayMagic.length), ArrayMagic),
      s"$path is not a graft model array file")
    b.position(ArrayMagic.length)
    val r = b.getInt()
    require(r == rank, s"$path holds a rank-$r array, expected rank $rank")
    b
  }

  private def requireConsumed(b: java.nio.ByteBuffer, path: String): Unit =
    require(!b.hasRemaining,
      s"$path has ${b.remaining} bytes past the end of its array")

  private val longPairSchema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", LongType, nullable = false)))

  /** Persist parallel (key, value) long arrays — 64-bit hash keys MUST
    * NOT transit doubles (2^53 mantissa), hence a dedicated long table. */
  private[graft] def saveLongPairs(
      spark: SparkSession, dir: String,
      ks: Array[Long], vs: Array[Long]): Unit = {
    require(ks.length == vs.length, s"${ks.length} keys, ${vs.length} values")
    val rows = ks.indices.map(i => Row(ks(i), vs(i)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), longPairSchema)
      .write.mode("overwrite").parquet(dir)
  }

  /** Reload [[saveLongPairs]] output, re-sorted by key (the consumers
    * binary-search). */
  private[graft] def loadLongPairs(
      spark: SparkSession, dir: String): (Array[Long], Array[Long]) = {
    val rows = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    (rows.map(_._1), rows.map(_._2))
  }

  /** Guard for batchId-idempotent foreachBatch sinks: idempotence is
    * scoped to ONE checkpoint lineage, so an output directory that
    * already holds `batch=NNNNNN` partitions combined with a BRAND-NEW
    * checkpoint means Spark will reassign batch ids from 0 and silently
    * OVERWRITE prior results. Refuse that combination up front; resuming
    * with the original checkpoint (it exists) or starting against a
    * fresh output directory both pass. */
  private[graft] def requireSameLineage(
      spark: SparkSession, batchOutDir: String, checkpoint: String,
      what: String): Unit = {
    val (ofs, op) = fs(spark, batchOutDir)
    val hasBatches = ofs.exists(op) && ofs.listStatus(op).exists(st =>
      st.isDirectory && st.getPath.getName.matches("batch=\\d+"))
    // a USED checkpoint carries an offsets/ directory; an empty or
    // missing one means Spark will start a new lineage at batch 0
    val (cfs, cp) = fs(spark, checkpoint)
    val used = cfs.exists(
      new org.apache.hadoop.fs.Path(cp, "offsets"))
    require(!hasBatches || used,
      s"$batchOutDir already holds $what from a previous run, but " +
        s"$checkpoint is not that run's checkpoint: a new checkpoint " +
        "lineage restarts batch ids at 0 and would overwrite them. " +
        "Resume with the original checkpoint, or use a fresh output " +
        "directory.")
  }

  private[graft] def saveFrame(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").parquet(dir)

  private[graft] def loadFrame(
      spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  // ──────────────── generic fold / recover protocol ────────────────
  // One implementation for every index family: the kind tag names the
  // distributed frames that fold; model artifacts (centroids, codebooks,
  // quantizer bounds, sidecar params) are fold-invariant and never move.

  /** kind tag → distributed frame names. Every `*IndexFold` /
    * [[indexFoldRecover]] is driven by this table; adding an index
    * family means adding its row. */
  private[graft] val FramesOf: Map[String, Seq[String]] = Map(
    "lsh" -> Seq("corpus", "buckets"),
    "ivf" -> Seq("corpus", "lists"),
    "pq" -> Seq("corpus", "codes"),
    "sq8" -> Seq("corpus", "codes"),
    "ivf_pq" -> Seq("corpus", "coded_lists"),
    "ivf_sq8" -> Seq("corpus", "coded_lists"))

  /** Base frame plus any COMMITTED on-disk append partitions (batch dirs
    * carrying a `_SUCCESS` marker — a half-written directory left by a
    * crashed, never-replayed append is skipped instead of failing the
    * whole load), base columns only. */
  private[graft] def frameWithAppends(
      spark: SparkSession, baseDir: String, appendDir: String): DataFrame = {
    val base = loadFrame(spark, baseDir)
    val p = new org.apache.hadoop.fs.Path(appendDir)
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hfs.exists(p)) base
    else {
      val committed = hfs.listStatus(p).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.matches("(batch|manual)=\\d+") &&
          hfs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
        .map(_.getPath.toString)
      if (committed.isEmpty) base
      else base.unionByName(
        spark.read.parquet(committed: _*)
          .select(base.columns.map(org.apache.spark.sql.functions.col): _*))
    }
  }

  /** Delete a saved index's `appends/` subtree AND any fold remnants
    * (`*_folding_eN` aside/scratch, `*_old_eN` parked bases) — every
    * `*IndexSave` calls this after the new frames commit: a rebuild's
    * quantizers (or a re-bucketed corpus) make stale append rows wrong,
    * and the rebuild resets the fold epoch, so crashed-fold remnants
    * must never be "restored" by a later fold's recovery. */
  private[graft] def pruneAppendsAndRemnants(
      spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/appends")
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hfs.exists(p)) hfs.delete(p, true)
    val base = new org.apache.hadoop.fs.Path(dir)
    if (hfs.exists(base)) hfs.listStatus(base)
      .filter(_.getPath.getName.matches("[a-z_]+_(folding|old)_e\\d+"))
      .foreach(st => hfs.delete(st.getPath, true))
  }

  /** Fold on-disk appends into the base frames (same model artifacts, no
    * retrain) — the safe form of the save-after-load maintenance step,
    * generic over index families. The folded frames are written to FRESH
    * `*_folding_eN` directories while every file they read (the old
    * base, the aside appends) stays untouched — so no materialization
    * pass is needed, and the self-destruction hazard [[Layout.compact]]
    * guards against cannot arise.
    *
    * CRASH-ATOMIC, with the sidecar write as the only durable state
    * transition: (1) rename `appends/` aside to `appends_folding_eN`
    * FIRST — appends landed concurrently from that instant (e.g. by a
    * live append sink) start a fresh `appends/` the fold never touches,
    * and simply fold next time; (2) write the unioned frames to
    * `<frame>_folding_eN`; (3) swap each into place, parking the
    * previous base at `<frame>_old_eN`; (4) commit by writing the
    * sidecar with `fold_epoch = N`; (5) delete the aside and the parks.
    * [[indexFoldRecover]] (run at the start of every fold, and cheap to
    * call from ops tooling) settles any crash by comparing remnant
    * epochs to the committed `fold_epoch`: committed remnants are
    * garbage and are deleted; uncommitted ones are rolled back — parked
    * bases restored over any half-published swap, folding scratch
    * deleted, aside merged back to `appends/` — so every row is always
    * in exactly one live location. Readers that overlap a fold mid-swap
    * (steps 3–4) can see a mixed base; run folds from a single
    * maintenance job, as with any compaction. A full REBUILD
    * (`*IndexSave`) deletes fold remnants along with `appends/` — rows
    * encoded under superseded quantizers must never resurface. */
  private[graft] def indexFold(
      spark: SparkSession, dir: String, expectKind: String): Unit = {
    indexFoldRecover(spark, dir)
    val frames = FramesOf(expectKind)
    val p = new org.apache.hadoop.fs.Path(s"$dir/appends")
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hfs.exists(p)) return // nothing to fold — checked before any load
    val meta = readMeta(spark, dir, expectKind)
    val epoch = meta.getOrElse("fold_epoch", 0L) + 1
    val aside = new org.apache.hadoop.fs.Path(
      s"$dir/appends_folding_e$epoch")
    require(hfs.rename(p, aside), s"could not move $p aside to $aside")
    frames.foreach { f =>
      saveFrame(
        frameWithAppends(spark, s"$dir/$f", s"$aside/$f"),
        s"$dir/${f}_folding_e$epoch")
    }
    frames.foreach(f => foldSwapIn(hfs, dir, f, epoch))
    // the sidecar write is the commit point
    writeMeta(spark, dir, expectKind,
      (meta - "version") + ("fold_epoch" -> epoch))
    hfs.delete(aside, true)
    frames.foreach(f => hfs.delete(
      new org.apache.hadoop.fs.Path(s"$dir/${f}_old_e$epoch"), true))
  }

  /** Publish a folded frame: park the live base at `*_old_eN`, rename
    * the freshly written `*_folding_eN` into its place. Both renames are
    * rolled back by [[indexFoldRecover]] if the sidecar never commits. */
  private def foldSwapIn(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      frame: String, epoch: Long): Unit = {
    val cur = new org.apache.hadoop.fs.Path(s"$dir/$frame")
    val old = new org.apache.hadoop.fs.Path(s"$dir/${frame}_old_e$epoch")
    val fresh =
      new org.apache.hadoop.fs.Path(s"$dir/${frame}_folding_e$epoch")
    require(fs.rename(cur, old), s"could not park $cur at $old")
    require(fs.rename(fresh, cur), s"could not publish $fresh to $cur")
  }

  /** Settle a crashed [[indexFold]] — see its scaladoc for the protocol.
    * Kind-agnostic (the sidecar names the frame set), idempotent, safe
    * against a healthy index, and safe to re-run if the recovery itself
    * crashes midway. */
  private[graft] def indexFoldRecover(
      spark: SparkSession, dir: String): Unit = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val hfs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hfs.exists(base)) return
    val kind = readKind(spark, dir)
    val frames = FramesOf.getOrElse(kind,
      throw new IllegalArgumentException(
        s"index at $dir has kind '$kind' with no registered frame set"))
    val committed = readMeta(spark, dir, kind).getOrElse("fold_epoch", 0L)
    val remnant = "([a-z_]+)_(folding|old)_e(\\d+)".r
    val epochs = hfs.listStatus(base).flatMap(st =>
      st.getPath.getName match {
        case remnant(_, _, e) => Some(e.toLong)
        case _ => None
      }).toSet.toSeq.sorted
    epochs.foreach { e =>
      def del(name: String): Unit = {
        val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
        if (hfs.exists(p)) hfs.delete(p, true)
      }
      if (e <= committed) {
        // the fold committed: every remnant of its epoch is garbage
        del(s"appends_folding_e$e")
        frames.foreach { f =>
          del(s"${f}_old_e$e"); del(s"${f}_folding_e$e")
        }
      } else {
        // never committed: roll back. Parked bases win over any
        // half-published swap; folding scratch is discarded; the aside
        // appends merge back so the next fold retries them.
        frames.foreach { frame =>
          val old =
            new org.apache.hadoop.fs.Path(s"$dir/${frame}_old_e$e")
          if (hfs.exists(old)) {
            del(frame)
            require(
              hfs.rename(old,
                new org.apache.hadoop.fs.Path(s"$dir/$frame")),
              s"could not restore $old to $dir/$frame")
          }
          del(s"${frame}_folding_e$e")
        }
        restoreAside(hfs, dir,
          new org.apache.hadoop.fs.Path(s"$dir/appends_folding_e$e"))
      }
    }
  }

  /** Merge a crashed fold's aside appends back under `dir/appends`. */
  private def restoreAside(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, asidePath: org.apache.hadoop.fs.Path): Unit =
    if (fs.exists(asidePath)) {
      val appends = new org.apache.hadoop.fs.Path(s"$dir/appends")
      if (!fs.exists(appends)) require(
        fs.rename(asidePath, appends),
        s"could not restore $asidePath to $appends")
      else {
        // new appends landed between the crash and this recovery (the
        // fold renames appends/ aside as its FIRST step, so a live sink
        // keeps writing into a fresh appends/): merge the aside's
        // per-frame batch dirs back one by one. A name collision is
        // ambiguous (same id written twice across the crash) — refuse
        // with guidance rather than guess.
        fs.listStatus(asidePath).filter(_.isDirectory).foreach { fr =>
          val destFrame = new org.apache.hadoop.fs.Path(
            appends, fr.getPath.getName)
          fs.mkdirs(destFrame)
          fs.listStatus(fr.getPath).foreach { b =>
            val destB = new org.apache.hadoop.fs.Path(
              destFrame, b.getPath.getName)
            require(!fs.exists(destB),
              s"crashed-fold recovery collision: $destB exists both " +
                s"in appends/ and in $asidePath — resolve manually " +
                "(the aside copy predates the crash)")
            require(fs.rename(b.getPath, destB),
              s"could not restore ${b.getPath} to $destB")
          }
        }
        fs.delete(asidePath, true)
      }
    }
}
