package graft.ops

import org.apache.spark.sql.SparkSession

/** Shared publish discipline for persisted indexes (AnnIndex,
  * InvertedIndex): each build writes into a fresh `v_<n>` directory and
  * is published by CREATING a `_COMMITTED` marker — file creation is
  * the atomic point on HDFS and local filesystems, so a reader either
  * resolves a complete committed build or the previous one, never a
  * half-written mix. The previous committed version is retained one
  * rebuild window for in-flight readers; older and aborted (marker-less)
  * build dirs are garbage-collected at the next publish.
  */
object IndexVersioning {

  /** Session conf key: minimum age (ms) of a `_CLAIMED`-but-never-
    * committed build dir before GC may sweep it. An in-flight claim is
    * indistinguishable from an abandoned one by markers alone, so age
    * is the tiebreak: a publisher slower than this TTL can have its
    * claim swept mid-write — it then FAILS LOUDLY at commit time (the
    * pre-`_COMMITTED` claim check below) instead of silently publishing
    * an empty version. Size it well above the slowest expected index
    * build; the cost of a generous TTL is only that aborted build dirs
    * linger longer before cleanup. */
  val ClaimTtlKey = "spark.graft.index.claimTtlMs"
  private val DefaultClaimTtlMs = 6L * 3600 * 1000

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Committed version numbers under `dir`, ascending. */
  def committedVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v_"))
      .flatMap(s => s.getPath.getName.stripPrefix("v_").toLongOption
        .filter(_ => fs.exists(
          new org.apache.hadoop.fs.Path(s.getPath, "_COMMITTED"))))
      .sorted
  }

  /** The directory holding the CURRENT committed build: the highest
    * committed `v_<n>` when the versioned layout is present, else `dir`
    * itself (pre-versioning flat layout, still readable). Readers
    * resolve ONCE and pin the result for their whole read. */
  def resolveDir(spark: SparkSession, dir: String): String =
    committedVersions(spark, dir).lastOption
      .map(v => s"$dir/v_$v").getOrElse(dir)

  /** The layout ROOT a build dir belongs to: the parent of a `v_<n>`
    * dir, else `dir` itself (the flat layout). Every version under one
    * root shares the writer's fixed per-part schema, so readers key
    * [[graft.sources.SchemaMemo]] by it and pay the footer-read
    * inference once per root, not once per version per probe. */
  def layoutRoot(dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (p.getName.matches("v_\\d+")) p.getParent.toString else dir
  }

  /** Marker file: this build LAYERS on a base version (cell-level
    * upsert — AnnIndex.upsert writes only the touched cell partitions
    * and chains the untouched ones). Content: the base version number
    * as decimal text. Chained ancestors are protected from the
    * below-floor GC sweep for as long as any retained version reaches
    * them through `_BASE` links. */
  val BaseMarker = "_BASE"

  /** Record that `vdir` (a build dir inside a `publish` write) layers on
    * committed version `baseV` of the same index. */
  def writeBaseMarker(spark: SparkSession, vdir: String, baseV: Long): Unit = {
    val (fs, _) = fsOf(spark, vdir)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$vdir/$BaseMarker"), false)
    out.write(baseV.toString.getBytes("UTF-8"))
    out.close()
  }

  /** The base version number `v` layers on, if any. */
  def baseVersionOf(spark: SparkSession, dir: String, v: Long): Option[Long] = {
    val (fs, _) = fsOf(spark, dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/v_$v/$BaseMarker")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim.toLongOption
      finally in.close()
    }
  }

  /** The base BUILD DIRECTORY a (version-resolved) build dir layers on,
    * if any — `dir` must be `<index>/v_<n>`; the flat pre-versioning
    * layout never chains. */
  def baseDirOf(spark: SparkSession, vdir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(vdir)
    val name = p.getName
    if (!name.startsWith("v_")) None
    else name.stripPrefix("v_").toLongOption.flatMap { v =>
      val parent = p.getParent.toString
      baseVersionOf(spark, parent, v).map(b => s"$parent/v_$b")
    }
  }

  /** Transitive `_BASE` closure of `roots` over the committed versions —
    * the set GC must retain so no retained version's chain dangles. */
  private def chainClosure(spark: SparkSession, dir: String,
      roots: Set[Long]): Set[Long] = {
    var seen = Set.empty[Long]
    var frontier = roots
    while (frontier.nonEmpty) {
      seen ++= frontier
      frontier = frontier.flatMap(v => baseVersionOf(spark, dir, v))
        .diff(seen)
    }
    seen
  }

  /** Run `write` against the next build directory, then atomically
    * publish it and GC per the marker rules below. If `write` throws,
    * `_COMMITTED` is never created and the partial dir (still carrying
    * its `_CLAIMED`) stays invisible to readers; it is swept by a later
    * publish once the claim outlives [[ClaimTtlKey]]. */
  def publish(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val (fs, p) = fsOf(spark, dir)
    // claim the version number BEFORE writing: an atomic `_CLAIMED`
    // create (overwrite=false) makes two concurrent publishers take
    // DIFFERENT v_<n> dirs instead of the second overwriting the
    // first's already-committed files mid-read (r10 ADVICE). A claim
    // without a later `_COMMITTED` is an aborted build — invisible to
    // readers and GC'd by the next successful publish.
    val prior = committedVersions(spark, dir)
    var next = prior.lastOption.getOrElse(0L) + 1
    var claimed = false
    var attempts = 0
    while (!claimed) {
      try {
        fs.mkdirs(p)
        fs.create(new org.apache.hadoop.fs.Path(s"$dir/v_$next/_CLAIMED"),
          false).close()
        claimed = true
      } catch {
        case _: java.io.IOException =>
          attempts += 1
          require(attempts < 1000,
            s"publish($dir): could not claim a version after $attempts tries")
          // someone else holds v_<next> (claimed or committed): skip past
          // every existing v_ dir and retry with a fresh number
          val taken = fs.listStatus(p).toSeq
            .flatMap(_.getPath.getName.stripPrefix("v_").toLongOption)
          next = math.max(next, taken.maxOption.getOrElse(0L)) + 1
      }
    }
    val vdir = s"$dir/v_$next"
    write(vdir)
    // verify OUR claim survived before publishing: GC (another
    // publisher's, after the claim outlived the TTL) may have deleted
    // the dir mid-write — the parquet writer recreates the path, so the
    // _COMMITTED create would SUCCEED and publish a gutted build as a
    // committed version (r11 ADVICE). A vanished claim fails the
    // publish loudly instead; the partial dir is marker-less junk the
    // next publish sweeps.
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$vdir/_CLAIMED")),
      s"publish($dir): claim marker for v_$next vanished mid-write — " +
        s"the build outlived the claim TTL and was garbage-collected by " +
        s"a concurrent publish; NOT committing a swept build (raise " +
        s"$ClaimTtlKey above the slowest expected build time)")
    fs.create(new org.apache.hadoop.fs.Path(s"$vdir/_COMMITTED"),
      false).close() // atomic publish; `false` = fail loudly on a clash
    // GC — by marker state, never by number alone (a bare `v < floor`
    // sweep deleted a SLOW publisher's live claim once two commits
    // landed during its write — r11 ADVICE):
    //  (a) COMMITTED dirs below the previous committed version: old
    //      versions past their one-window retention — swept UNLESS a
    //      retained version (the new build or the previous committed
    //      one) reaches them through a `_BASE` chain: a layered upsert's
    //      codes live partly in its ancestors, so sweeping an ancestor
    //      would gut a live committed build.
    //  (b) CLAIMED-but-uncommitted dirs: in-flight or abandoned builds,
    //      indistinguishable by marker — swept only once the claim file
    //      is older than [[ClaimTtlKey]], wherever they sit relative to
    //      the floor (an abandoned above-floor claim must not linger
    //      forever either).
    //  (c) marker-less dirs (a crash between mkdirs and the _CLAIMED
    //      create, or foreign junk): nothing can ever commit them;
    //      always swept.
    val floor = prior.lastOption.getOrElse(0L)
    val protectedVs = chainClosure(spark, dir, Set(next, floor))
    val ttlMs = spark.conf.getOption(ClaimTtlKey).map(_.toLong)
      .getOrElse(DefaultClaimTtlMs)
    val now = System.currentTimeMillis()
    fs.listStatus(p)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v_"))
      .filter { s =>
        s.getPath.getName.stripPrefix("v_").toLongOption.exists { v =>
          if (v == next) false
          else {
            val committed = fs.exists(
              new org.apache.hadoop.fs.Path(s.getPath, "_COMMITTED"))
            val claimPath = new org.apache.hadoop.fs.Path(s.getPath, "_CLAIMED")
            if (committed) v < floor && !protectedVs.contains(v)
            else if (fs.exists(claimPath))
              try now - fs.getFileStatus(claimPath).getModificationTime > ttlMs
              catch { case _: java.io.FileNotFoundException => false }
            else true
          }
        }
      }
      .foreach(s => fs.delete(s.getPath, true))
  }
}
