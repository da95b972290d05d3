package graft.operators

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The store lifecycle: generation-manifest plumbing shared by every
  * persisted store whose surfaces are laid out as one `gen=<g>` directory
  * per ingested batch — [[Indexing]], [[VectorStore]], [[LmStore]],
  * [[SpanStore]], [[DsirStore]], [[ClusterStore]], [[History]] and the
  * stream states of [[graft.streaming.DedupStream]] and
  * [[graft.streaming.CrawlStream]].
  *
  * The manifest (`<storeDir>/_MANIFEST`, one generation name per line) is
  * the store's SINGLE COMMIT POINT, and every mutation goes through one of
  * two steps defined here, so the lock and the manifest-last ordering live
  * in this one module:
  *
  *  - [[ingest]]: writer lock → fence the caller's generation name (or
  *    auto-name `g<k>` from the disk listing) → the caller's guard and
  *    surface writes against the live list → manifest `add` LAST. Readers
  *    resolve the manifest once per query, so a crashed multi-surface
  *    write is invisible (its orphan directories are referenced by
  *    nothing) rather than half-visible; the flip commits all surfaces of
  *    a generation atomically, and re-driving a named generation
  *    overwrites its own directories and converges.
  *  - [[compact]]: writer lock → sweep (protecting the caller's keep set)
  *    → resolve live → the caller's fold set and skip rule → name `c<n>` →
  *    the caller's write → `commit(c<n> +: unfolded)`. Compaction never
  *    deletes what the manifest references: the fold lands as a NEW
  *    directory set, and the folded directories stay on disk while any
  *    RETAINED SNAPSHOT manifest still references them. Every commit
  *    rotates the outgoing manifest into a bounded history
  *    (`_MANIFEST.<n>`, [[HistoryKeep]] deep), and the sweep protects
  *    everything the history references — so a reader that resolved an
  *    old manifest keeps a complete, immutable view for `HistoryKeep`
  *    commits (the tunable grace window), and [[liveAt]] resolves a past
  *    store state by name (cheap time travel). Disk overhead is bounded
  *    by compaction cadence × HistoryKeep, never by ingest history.
  *
  * Builds write their first generation and [[commit]] it directly. The
  * manifest flip itself is a write-to-temp + overwrite-rename
  * ([[FileContext]] `Options.Rename.OVERWRITE` — atomic on HDFS and POSIX
  * filesystems), so readers see the old list or the new list, never a
  * torn file.
  *
  * WRITERS remain single-writer — and the contract is ENFORCED, not just
  * documented: both steps (and every other mutating store entry point) run
  * under [[withWriterLock]] (in-JVM thread arbiter + best-effort create-
  * exclusive lock file), so a second concurrent writer fails fast instead
  * of interleaving `add`/`commit` and silently losing a generation. The
  * manifest removes the concurrent READER hazard and narrows every
  * multi-directory commit to one filesystem op. This is deliberately the
  * small end of the table-format spectrum (an Iceberg/Delta snapshot
  * pointer with a bounded version history); a production deployment on
  * object storage would swap in such a format wholesale — the store
  * layouts already match its segment model.
  */
object Generations {

  private val ManifestName = "_MANIFEST"
  private val LockName = "_WRITER_LOCK"

  /** Snapshot manifests retained per store (`_MANIFEST.<n>`): each commit
    * rotates the outgoing manifest into the history before overwriting,
    * and [[sweepUnreferenced]] protects every generation a retained
    * snapshot references — so the reader-grace window is `HistoryKeep`
    * commits deep instead of exactly one compaction cycle, and a reader
    * can pin a PAST store state by name ([[liveAt]]). */
  val HistoryKeep = 2

  private[graft] def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readManifest(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** The committed generation names. Fails fast on a directory that has
    * no manifest — an uncommitted build or not a store at all. */
  def live(spark: SparkSession, storeDir: String): Seq[String] = {
    val fs = fsOf(spark, storeDir)
    val p = new Path(storeDir, ManifestName)
    require(fs.exists(p),
      s"no $ManifestName under $storeDir — not a committed store")
    readManifest(fs, p)
  }

  /** Retained snapshot ids, ascending (empty before the second commit). */
  def snapshotIds(spark: SparkSession, storeDir: String): Seq[Int] = {
    val fs = fsOf(spark, storeDir)
    val d = new Path(storeDir)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith(ManifestName + ".") &&
        n.stripPrefix(ManifestName + ".").forall(_.isDigit) =>
        n.stripPrefix(ManifestName + ".").toInt }
      .sorted
  }

  /** The generation names a retained snapshot manifest references — the
    * store state as of that commit. Generations are protected from the
    * sweep while the snapshot is retained, so the view is complete. */
  def liveAt(spark: SparkSession, storeDir: String, snapshot: Int): Seq[String] = {
    val fs = fsOf(spark, storeDir)
    val p = new Path(storeDir, s"$ManifestName.$snapshot")
    require(fs.exists(p), s"no retained snapshot $snapshot under $storeDir " +
      s"(retained: ${snapshotIds(spark, storeDir).mkString(",")})")
    readManifest(fs, p)
  }

  /** Atomically replace the manifest — the store's commit point. The
    * outgoing manifest (if any) rotates into the snapshot history first;
    * history beyond [[HistoryKeep]] is pruned here, so retention cost is
    * bounded and needs no separate maintenance. */
  def commit(spark: SparkSession, storeDir: String, gens: Seq[String]): Unit = {
    require(gens.nonEmpty, "a store must reference at least one generation")
    require(gens.distinct == gens, s"duplicate generation in $gens")
    val fs = fsOf(spark, storeDir)
    fs.mkdirs(new Path(storeDir))
    val cur = new Path(storeDir, ManifestName)
    if (fs.exists(cur)) {
      val ids = snapshotIds(spark, storeDir)
      val next = if (ids.isEmpty) 0 else ids.max + 1
      // plain copy, not rename: a crash between copy and the final flip
      // leaves the current manifest untouched (snapshot is advisory)
      val content = readManifest(fs, cur)
      val snap = new Path(storeDir, s"$ManifestName.$next")
      val out = fs.create(snap, true)
      try out.write((content.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
      for (old <- (ids :+ next).sorted.dropRight(HistoryKeep))
        fs.delete(new Path(storeDir, s"$ManifestName.$old"), false)
    }
    val tmp = new Path(storeDir, ManifestName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write((gens.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    FileContext.getFileContext(new Path(storeDir).toUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(tmp, new Path(storeDir, ManifestName), Options.Rename.OVERWRITE)
  }

  /** Commit `gen` into the manifest if absent (idempotent under stream
    * replay — a second delivery of the same batch re-adds nothing). */
  def add(spark: SparkSession, storeDir: String, gen: String): Unit = {
    val l = live(spark, storeDir)
    if (!l.contains(gen)) commit(spark, storeDir, l :+ gen)
  }

  /** JVM-level arbiter for [[withWriterLock]], keyed by qualified store
    * path: catches the realistic in-process hazard (two threads — a
    * stream's foreachBatch racing a maintenance compact) exactly, and is
    * reentrant per thread so a compact may call an apply. */
  private val heldLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Thread]()

  /** Enforce the stores' documented single-WRITER contract instead of
    * trusting callers: every mutating store entry point (append / apply /
    * compact) runs its body under this guard. A second concurrent writer
    * FAILS FAST with `IllegalStateException` — the alternative is an
    * interleaved `add`/`commit` pair that can silently lose a generation
    * from the manifest. Two layers: the in-JVM thread map above, plus a
    * best-effort create-exclusive lock FILE under the store dir for a
    * second process; a lock file whose mtime is older than `staleMs` is
    * presumed left by a crashed writer and is broken. (Best-effort by
    * design: object stores without atomic create need a real coordination
    * service; this guard turns silent corruption into a loud error on
    * filesystems, which is the contract the specs pin.) */
  def withWriterLock[T](spark: SparkSession, storeDir: String,
      staleMs: Long = 30 * 60 * 1000L)(body: => T): T = {
    val fs = fsOf(spark, storeDir)
    fs.mkdirs(new Path(storeDir))
    val key = fs.makeQualified(new Path(storeDir)).toString
    val me = Thread.currentThread()
    val owner = heldLocks.putIfAbsent(key, me)
    if (owner eq me) return body // reentrant: outer holder owns cleanup
    if (owner != null)
      throw new IllegalStateException(s"store $storeDir already has an " +
        s"active writer (thread ${owner.getName}); stores are " +
        "single-writer — serialize appends/applies with compaction")
    val lockFile = new Path(storeDir, LockName)
    // owner-unique token: stale-break verifies it is still deleting the
    // SAME lock it observed as stale, and acquisition reads it back
    val token =
      s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName} " +
        s"${java.util.UUID.randomUUID()}\n"
    var fileLocked = false
    try {
      def tryCreate(): Boolean =
        try {
          val out = fs.create(lockFile, false)
          try out.write(token.getBytes("UTF-8"))
          finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      def readLock(): Option[(String, Long)] =
        try {
          val st = fs.getFileStatus(lockFile)
          val in = fs.open(lockFile)
          val content =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          Some((content, st.getModificationTime))
        } catch { case _: java.io.IOException => None }
      fileLocked = tryCreate()
      if (!fileLocked) {
        // Stale-break via an ATOMIC RENAME-CLAIM: two waiters may both
        // observe the same stale lock, but breaking it is done by renaming
        // the observed lock file to a waiter-unique tombstone — rename has
        // exactly one winner (the source vanishes for the loser), so the
        // right to re-create the lock is claimed atomically and a fresh
        // lock created by a raced breaker is never deleted (the old
        // delete-based break had a read→delete window where it could be).
        // The loser's rename fails and it backs off to "locked". The
        // re-read before the rename still gates on token+mtime so a lock
        // that changed hands since the stale observation is never claimed;
        // the residual window is create-exclusive itself, covered by the
        // post-create token verification below (loud failure, never a
        // silent double-acquire).
        val observed = readLock()
        val stale = observed match {
          case Some((_, mtime)) => System.currentTimeMillis() - mtime > staleMs
          case None             => true // holder vanished; retry create below
        }
        if (stale) {
          val again = readLock()
          val claimed = if (again == observed && observed.isDefined) {
            val tomb = new Path(storeDir,
              s"$LockName.broken.${java.util.UUID.randomUUID()}")
            val won =
              try fs.rename(lockFile, tomb)
              catch { case _: java.io.IOException => false }
            if (won) { try fs.delete(tomb, false)
                       catch { case _: Throwable => () } }
            won
          } else observed.isEmpty // vanished holder: nothing to claim
          fileLocked = claimed && tryCreate()
          // verify ownership: if a raced breaker created its lock between
          // our delete and create, our create failed and this stays false
          if (fileLocked && !readLock().exists(_._1 == token)) {
            fileLocked = false
            throw new IllegalStateException(s"store $storeDir writer lock " +
              "changed hands during a stale-lock break — another writer won")
          }
        }
        if (!fileLocked)
          throw new IllegalStateException(s"store $storeDir is locked by " +
            s"another writer process ($LockName present and fresh)")
      }
      body
    } finally {
      heldLocks.remove(key)
      if (fileLocked)
        try fs.delete(lockFile, false) catch { case _: Throwable => () }
    }
  }

  /** The INGEST step every append runs: under the writer lock, fence the
    * caller's generation name (`Some(gen)`: a replay-safe append that
    * re-drives the same name on redelivery) or auto-name a fresh `g<k>`
    * (`None`: an append-only batch), run `write(name, live)` — the
    * caller's guard and every surface write of that generation, against
    * the live list — and `add` the name to the manifest LAST. A fresh
    * name is on no surface's disk listing, so the live list never holds
    * it: a replay guard's `gen =!= name` filter is then a no-op, and the
    * append-only and replay paths share one body. `op` names the caller
    * in the fence's error. */
  def ingest(spark: SparkSession, storeDir: String, surfaces: Seq[String],
      gen: Option[String], op: String)(
      write: (String, Seq[String]) => Unit): Unit =
      withWriterLock(spark, storeDir) {
    for (g <- gen)
      require(g.nonEmpty && !(g.length > 1 && (g.head == 'g' || g.head == 'c')
          && g.tail.forall(_.isDigit)),
        s"$op: generation name '$g' collides with the batch/compaction " +
          "namespace — use a distinct prefix, e.g. b<batchId>")
    val name = gen.getOrElse(nextName(spark, storeDir, surfaces, 'g'))
    write(name, live(spark, storeDir))
    add(spark, storeDir, name)
  }

  /** The default compaction skip rule: nothing to fold, or a lone
    * already-compacted generation (repeated compaction is a no-op). */
  private def foldsNothing(fold: Seq[String]): Boolean =
    fold.isEmpty || (fold.sizeIs == 1 && fold.head.startsWith("c"))

  /** The COMPACTION step every store runs: under the writer lock, sweep
    * the generations the previous compaction folded (their reader grace
    * has lapsed) and crashed writes' orphans — never one in `keep`, the
    * stream generations whose batches the checkpoint has not committed —
    * then fold the live generations outside `keep` that `foldable`
    * accepts, unless `skip` says the fold set is already compact. The
    * fold is written by `write(cGen, fold)` as a NEW `c<n>` generation
    * and the manifest flips to `c<n> +: unfolded` — the only commit, so
    * a crash before it leaves the live store untouched (the partial
    * `c<n>` is swept as an orphan next time). */
  def compact(spark: SparkSession, storeDir: String, surfaces: Seq[String],
      keep: Set[String] = Set.empty, foldable: String => Boolean = _ => true,
      skip: Seq[String] => Boolean = foldsNothing)(
      write: (String, Seq[String]) => Unit): Unit =
      withWriterLock(spark, storeDir) {
    sweepUnreferenced(spark, storeDir, surfaces, keep)
    val gens = live(spark, storeDir)
    val fold = gens.filter(g => !keep(g) && foldable(g))
    if (!skip(fold)) {
      val cGen = nextName(spark, storeDir, surfaces, 'c')
      write(cGen, fold)
      commit(spark, storeDir, cGen +: gens.filterNot(fold.contains))
    }
  }

  /** Write one surface generation (`<storeDir>/<surface>/gen=<gen>`, an
    * OVERWRITE) in the serving layout: repartitioned by `parts` — one
    * file per partition value — and sorted within each partition by
    * `sortBy`; directory-partitioned by `parts` unless `flat` (a batch
    * append's segment keeps them as data columns, so its file count
    * tracks the batch). `serve` adds 4 MB row groups and 64 KB pages to
    * the 2000-row page cap: with ck-sorted files the reader's page column
    * indexes then skip key ranges a serving batch never touches
    * ([[graft.functions.Pushdown]]) — dictionary-packed count tables hit
    * parquet's 20k-row page cap long before 64 KB, so the row cap is the
    * real skip granularity. */
  private[operators] def writeSurface(df: DataFrame, storeDir: String,
      surface: String, gen: String, parts: Seq[String], sortBy: Seq[String],
      flat: Boolean = false, serve: Boolean = true): Unit = {
    import org.apache.spark.sql.functions.col
    val placed =
      if (parts.isEmpty) df
      else {
        val r = df.repartition(parts.map(col): _*)
        if (sortBy.isEmpty) r else r.sortWithinPartitions(sortBy.map(col): _*)
      }
    val capped = placed.write.mode("overwrite")
      .option("parquet.page.row.count.limit", 2000)
    val w =
      if (serve) capped.option("parquet.block.size", 4L << 20)
        .option("parquet.page.size", 64 << 10)
      else capped
    (if (flat) w else w.partitionBy(parts: _*))
      .parquet(s"$storeDir/$surface/gen=$gen")
  }

  /** Read one surface restricted to the given generations: explicit
    * `gen=` directory paths anchored by `basePath`, so the partition
    * columns (`gen`, and `shard`/`cell` below it) still infer and a
    * static IN on them still prunes to the probed directories. */
  def readSurface(spark: SparkSession, storeDir: String, surface: String,
      gens: Seq[String]): DataFrame = {
    require(gens.nonEmpty, s"readSurface($surface): no generations")
    spark.read.option("basePath", s"$storeDir/$surface")
      .parquet(gens.map(g => s"$storeDir/$surface/gen=$g"): _*)
  }

  /** [[readSurface]] with an EXPLICIT schema (partition columns included —
    * Spark fills them from the directory names): no footer-based schema
    * inference, so the read survives generations whose partitioned write
    * produced no data file (an empty batch surface) and skips the
    * per-generation footer open at resolution time. */
  def readSurfaceAs(spark: SparkSession, storeDir: String, surface: String,
      gens: Seq[String], schema: org.apache.spark.sql.types.StructType): DataFrame = {
    require(gens.nonEmpty, s"readSurfaceAs($surface): no generations")
    spark.read.option("basePath", s"$storeDir/$surface").schema(schema)
      .parquet(gens.map(g => s"$storeDir/$surface/gen=$g"): _*)
  }

  /** [[readSurfaceAs]] over a surface whose generations MIX two layouts:
    * DIRECTORY-PARTITIONED by `partCol` (corpus-sized builds and
    * compactions — a static IN on `partCol` prunes to the probed
    * directories) and FLAT SEGMENTS (batch appends: `partCol` is an
    * ordinary data column and the generation is a handful of batch-sized
    * files — the Lucene segment shape). The same `partCol` filter
    * applies to both: directory pruning on the partitioned group, a
    * row-group-skippable data filter on the flat group, whose total size
    * is bounded by the compaction cadence, so reading it is batch-bound
    * by construction. One spark.read cannot span both directory depths,
    * so the generation list is split by a per-generation directory probe
    * (generation count is bounded by that same cadence) and the two
    * reads align on `schema`'s column order before the union.
    */
  def readSurfaceMixed(spark: SparkSession, storeDir: String,
      surface: String, gens: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      partCol: String): DataFrame = {
    require(gens.nonEmpty, s"readSurfaceMixed($surface): no generations")
    val fs = fsOf(spark, storeDir)
    val (parted, flat) = gens.partition { g =>
      val d = new Path(s"$storeDir/$surface/gen=$g")
      fs.exists(d) &&
        fs.listStatus(d).exists(_.getPath.getName.startsWith(partCol + "="))
    }
    val cols = schema.fieldNames.toIndexedSeq.map(org.apache.spark.sql.functions.col)
    Seq(parted, flat).filter(_.nonEmpty)
      .map(gs => readSurfaceAs(spark, storeDir, surface, gs, schema)
        .select(cols: _*))
      .reduce(_ unionByName _)
  }

  /** [[readSurfaceMixed]] with PATH-LEVEL pruning to the probed
    * `partCol` values — the [[graft.operators.History]] /
    * [[graft.operators.VectorStore.annSearch]] discipline generalized:
    * Spark's surface-wide discovery listing costs gens × ALL partition
    * directories at plan time even when a static IN prunes the scan, and
    * at store scale (thousands of shards) that listing dominates a
    * batch-bounded read. Here each partitioned generation contributes
    * exactly its existing probed leaf directories — ONE listStatus per
    * generation, intersected with the wanted values (never an exists
    * probe per candidate pair) — and flat segment generations (batch
    * appends, total size bounded by the compaction cadence) are read
    * whole behind a data filter on `partCol`. Cost: O(gens + touched
    * dirs) driver-side ops, independent of the store's partition count.
    */
  def readSurfacePruned(spark: SparkSession, storeDir: String,
      surface: String, gens: Seq[String],
      schema: org.apache.spark.sql.types.StructType, partCol: String,
      values: Seq[Int]): DataFrame = {
    require(gens.nonEmpty, s"readSurfacePruned($surface): no generations")
    val fs = fsOf(spark, storeDir)
    val wanted = values.map(v => s"$partCol=$v").toSet
    val leafPaths = Seq.newBuilder[String]
    val flatGens = Seq.newBuilder[String]
    for (g <- gens) {
      val d = new Path(s"$storeDir/$surface/gen=$g")
      if (fs.exists(d)) {
        val subs = fs.listStatus(d).toSeq.map(_.getPath.getName)
        if (subs.exists(_.startsWith(partCol + "=")))
          leafPaths ++= subs.filter(wanted)
            .map(s => s"$storeDir/$surface/gen=$g/$s")
        else if (subs.exists(_.endsWith(".parquet")))
          flatGens += g
        else {
          // neither layout: a non-empty generation partitioned under an
          // unexpected column (layout drift) must fail LOUDLY — silently
          // skipping it would drop committed data from reads. An empty
          // write (commit markers/dotfiles only) is a legitimate empty
          // surface generation and contributes nothing.
          val real = subs.filterNot(s => s == "_SUCCESS" ||
            s.startsWith(".") || s.startsWith("_temporary"))
          require(real.isEmpty,
            s"readSurfacePruned($surface): generation gen=$g matches " +
              s"neither the $partCol=-partitioned nor the flat-parquet " +
              s"layout (contains: ${real.take(3).mkString(", ")}) — " +
              "layout drift would silently vanish from pruned reads")
        }
      }
    }
    val cols = schema.fieldNames.toIndexedSeq
      .map(org.apache.spark.sql.functions.col)
    val paths = leafPaths.result()
    val flats = flatGens.result()
    val parts =
      (if (paths.isEmpty) Nil
       else Seq(spark.read.option("basePath", s"$storeDir/$surface")
         .schema(schema).parquet(paths: _*).select(cols: _*))) ++
      (if (flats.isEmpty) Nil
       else Seq(readSurfaceAs(spark, storeDir, surface, flats, schema)
         .filter(org.apache.spark.sql.functions.col(partCol)
           .isin(values.map(Integer.valueOf): _*))
         .select(cols: _*)))
    if (parts.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else parts.reduce(_ unionByName _)
  }

  /** On-disk generation names of a surface — committed, orphaned by a
    * crashed write, or folded-but-not-yet-swept alike. */
  def onDisk(spark: SparkSession, storeDir: String, surface: String): Seq[String] = {
    val fs = fsOf(spark, storeDir)
    val p = new Path(s"$storeDir/$surface")
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("gen=")).map(_.stripPrefix("gen="))
  }

  /** Next free auto-numbered generation name, scanning the DISK listing
    * of every surface (not the manifest): a crashed write's orphan still
    * occupies its name, so it is never silently reused. */
  def nextName(spark: SparkSession, storeDir: String, surfaces: Seq[String],
      prefix: Char): String = {
    val used = surfaces.flatMap(onDisk(spark, storeDir, _)).toSet
    val nums = used.collect {
      case s if s.length > 1 && s.head == prefix && s.tail.forall(_.isDigit) =>
        s.tail.toInt
    }
    s"$prefix${if (nums.isEmpty) 0 else nums.max + 1}"
  }

  /** Delete every on-disk generation directory the manifest does not
    * reference (and `protect` does not name): generations folded by the
    * previous compaction — their reader-grace window has lapsed — and
    * orphans of crashed writes. Runs at the START of a compaction, so a
    * generation is swept exactly one maintenance cycle after it was
    * folded. `protect` carries the stream generations whose batches the
    * checkpoint has not committed: a crashed stream write's directories
    * must survive until its replay rewrites them. */
  private def sweepUnreferenced(spark: SparkSession, storeDir: String,
      surfaces: Seq[String], protect: Set[String] = Set.empty): Unit = {
    val fs = fsOf(spark, storeDir)
    // retained snapshot manifests keep their generations readable: the
    // snapshot history IS the tunable reader-grace window
    val snapshotRefs = snapshotIds(spark, storeDir)
      .flatMap(liveAt(spark, storeDir, _)).toSet
    val referenced = live(spark, storeDir).toSet ++ snapshotRefs ++ protect
    for (surface <- surfaces;
         gen <- onDisk(spark, storeDir, surface) if !referenced(gen))
      fs.delete(new Path(s"$storeDir/$surface/gen=$gen"), true)
  }
}
