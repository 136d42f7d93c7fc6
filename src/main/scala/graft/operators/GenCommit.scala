package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, typedLit}

/** The one commit store behind every persisted index ([[Retrieval]]'s text
  * index, [[MediaIndex]], [[ProductQuantization]], [[ScalarQuantization]]):
  * data files land under explicit `gen=N` partitions, derived tables under
  * `<name>_gN` dirs, save-time static tables in plain dirs, and the single
  * COMMIT point is a `meta_gN` directory whose `_SUCCESS` marker landed —
  * readers take the highest committed meta and filter to its gens list, so
  * a crash mid-append leaves the previous index consistent and a retry just
  * takes the next generation number. An index supplies only its tables,
  * its meta columns and its contract checks. */
private[operators] object GenCommit {

  def fs(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Generation numbers visible as `<prefix>N` child directories of `base`
    * (e.g. `meta_g3`, `gen=2`) — a pure filesystem listing, no data read.
    * With `requireSuccess`, only dirs whose `_SUCCESS` marker landed count
    * (the committed set); without, every dir counts (orphans included — the
    * namespace a fresh generation number must clear). */
  private def listGens(spark: SparkSession, base: String, prefix: String,
                       requireSuccess: Boolean): Seq[Int] = {
    val f = fs(spark, base)
    val p = new org.apache.hadoop.fs.Path(base)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
      val n = st.getPath.getName
      if (!n.startsWith(prefix)) None
      else scala.util.Try(n.stripPrefix(prefix).toInt).toOption.filter { _ =>
        !requireSuccess ||
          f.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS"))
      }
    }
  }

  /** The next generation number: strictly above every committed gen AND
    * every orphan visible in the data dirs or the meta namespace. */
  private def nextGen(spark: SparkSession, path: String, dataDirs: Seq[String],
                      committed: Seq[Int]): Int =
    1 + (committed ++ listGens(spark, path, "meta_g", requireSuccess = false)
      ++ dataDirs.flatMap(d =>
        listGens(spark, s"$path/$d", "gen=", requireSuccess = false))).max

  /** A committed meta: its generation and its one row (the index's own
    * columns plus `gens`, the committed generation list). */
  final case class Meta(gen: Int, row: Row) {
    def gens: Seq[Int] = row.getSeq[Int](row.fieldIndex("gens")).toSeq
  }

  /** The COMMITTED index state at `path`: the highest-numbered `meta_gN`
    * directory whose `_SUCCESS` marker landed; None when there is none. */
  def committedMeta(spark: SparkSession, path: String): Option[Meta] =
    listGens(spark, path, "meta_g", requireSuccess = true).maxOption
      .map(g => Meta(g, spark.read.parquet(s"$path/meta_g$g").collect().head))

  /** [[committedMeta]], loud when `path` holds no committed index; `op`
    * names the caller in the error. */
  def requireMeta(spark: SparkSession, path: String, op: String): Meta =
    committedMeta(spark, path).getOrElse(throw new IllegalArgumentException(
      s"$op: no committed index meta at $path — save first"))

  /** Write `df` as generation `gen` of the data table `dataDir`, partitioned
    * by `gen` then `partitionCols`: a save's generation 0 overwrites, an
    * append's lands beside the committed generations. */
  def writeGen(df: DataFrame, path: String, dataDir: String, gen: Int,
               partitionCols: String*): Unit =
    df.withColumn("gen", lit(gen))
      .write.mode(if (gen == 0) "overwrite" else "append")
      .partitionBy("gen" +: partitionCols: _*).parquet(s"$path/$dataDir")

  /** The data table `dataDir` restricted to the committed `gens`, `gen`
    * stripped — a partition filter, so a crashed append's orphans are
    * pruned at FILE level and never read. */
  def readGens(spark: SparkSession, path: String, dataDir: String,
               gens: Seq[Int]): DataFrame =
    spark.read.parquet(s"$path/$dataDir")
      .filter(col("gen").isin(gens: _*)).drop("gen")

  /** A small table (derived, static or meta) as one parquet file at `dir`. */
  def writeTable(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir)

  /** The append contract the text and media indexes share: the batch's
    * `idCol` values must be disjoint from the COMMITTED ones — an
    * overlapping append would double-count every downstream statistic. */
  def requireDisjointIds(batch: DataFrame, committed: DataFrame, idCol: String,
                         op: String, path: String): Unit = {
    val clashes = batch.select(col(idCol)).distinct()
      .join(committed.select(col(idCol)), Seq(idCol), "left_semi")
      .limit(5).collect().map(_.get(0))
    require(clashes.isEmpty,
      s"$op: $idCol values already indexed at $path: ${clashes.mkString(", ")}")
  }

  /** Save a fresh index at `path` from `input`. The input is staged ONCE
    * (localCheckpoint) before anything at `path` is touched, so a frame that
    * fails at run time cannot destroy the previously committed index, and
    * every table comes from one evaluation. Then the save fence: acquire the
    * lease (refusing while an append is in flight), recursively CLEAR `path`
    * (a fresh save owns it — stale higher-numbered metas would shadow the
    * new `meta_g0`; the now-ours lease goes with the rest) and immediately
    * RE-ACQUIRE, so the whole rebuild stays fenced (two concurrent saves
    * would otherwise both pass the first acquire and interleave their
    * overwrite writes). Under it `body` writes generation 0 from the staged
    * frame and returns the index's one-row meta; `meta_g0` (gens = [0])
    * commits it. */
  def save(input: DataFrame, path: String)(body: DataFrame => DataFrame): Unit = {
    val spark = input.sparkSession
    val staged = input.localCheckpoint()
    acquireLease(spark, path)
    fs(spark, path).delete(new org.apache.hadoop.fs.Path(path), true)
    withLease(spark, path)(tok => commit(spark, path, tok, body(staged), 0, Seq(0)))
  }

  /** Append `input` to the committed index at `path` as a new generation.
    * The input is staged ONCE before the writer lease is taken, so the hold
    * window is the checks and writes only. The committed meta is read
    * INSIDE the lease (read before it, a concurrent append could commit in
    * between and our meta, carrying a stale gens list, would hide its
    * generation); the next generation number clears every orphan in
    * `dataDirs`. `body` gets (staged, committed meta, gen), runs the index's
    * contract checks, writes generation `gen` and returns the new one-row
    * meta; `meta_gN` (gens :+ N) commits it. `op` names the caller. */
  def append(input: DataFrame, path: String, dataDirs: Seq[String], op: String)
            (body: (DataFrame, Meta, Int) => DataFrame): Unit = {
    val spark = input.sparkSession
    val staged = input.localCheckpoint()
    withLease(spark, path) { tok =>
      val committed = requireMeta(spark, path, op)
      val gen = nextGen(spark, path, dataDirs, committed.gens)
      commit(spark, path, tok, body(staged, committed, gen), gen, committed.gens :+ gen)
    }
  }

  /** The commit: the lease fence (a writer lost to a TTL takeover aborts
    * here), then `meta_gN` landing with `_SUCCESS`. */
  private def commit(spark: SparkSession, path: String, token: String,
                     meta: DataFrame, gen: Int, gens: Seq[Int]): Unit = {
    assertHeld(spark, path, token)
    writeTable(meta.withColumn("gens", typedLit(gens)), s"$path/meta_g$gen")
  }

  // ── writer lease ────────────────────────────────────────────────────────
  //
  // An in-flight append's generation is indistinguishable from a crashed
  // append's orphan until its meta commits — a vacuum racing an append
  // would reclaim the live generation and let the append commit a meta
  // whose data is gone. The lease turns that scaladoc contract into a
  // mechanism: appenders hold `_lease` (an atomic filesystem create) for
  // the duration of the write, vacuum REFUSES while a fresh lease exists,
  // and a second appender fails loudly instead of interleaving. A lease
  // older than the TTL ([[DefaultLeaseTtlMs]], generous for batch ingest —
  // it must exceed the longest append a deployment runs) is STALE (its
  // writer's JVM died mid-append — the crash the generation protocol
  // already tolerates) and is taken over, so a crash never wedges the index.
  //
  // OWNERSHIP: the lease file carries `<millis> <uuid-token>`; acquire
  // returns the token and release/commit verify it still matches. A
  // slow-but-alive writer whose lease aged past the TTL and was taken over
  // therefore CANNOT delete the new holder's lease on its way out (the old
  // unconditional delete would have let a third writer interleave), and its
  // own commit fails loudly at the [[assertHeld]] fence instead of landing
  // an unfenced meta.

  val DefaultLeaseTtlMs: Long = 30L * 60L * 1000L

  private def leasePath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_lease")

  /** Full text of the lease file (`"<millis> <token>"`), None if absent or
    * unreadable. */
  private def leaseBody(f: org.apache.hadoop.fs.FileSystem,
                        lp: org.apache.hadoop.fs.Path): Option[String] =
    if (!f.exists(lp)) None
    else scala.util.Try {
      val in = f.open(lp)
      try {
        val buf = new Array[Byte](128) // "<epoch-millis> <uuid>" fits well under
        val n = in.read(buf)
        new String(buf, 0, math.max(n, 0), "UTF-8").trim
      } finally in.close()
    }.toOption

  /** The millis timestamp of a lease file, None if absent. An existing but
    * empty/corrupt lease (its writer died between create and write) falls
    * back to the FILE's modification time, so it ages out by TTL exactly
    * like a written lease instead of wedging acquirers forever while
    * counting as absent to vacuum — both readers see the same age. */
  private def leaseTs(f: org.apache.hadoop.fs.FileSystem,
                      lp: org.apache.hadoop.fs.Path): Option[Long] =
    if (!f.exists(lp)) None
    else leaseBody(f, lp)
      .flatMap(s => scala.util.Try(s.split("\\s+")(0).toLong).toOption)
      .orElse(scala.util.Try(f.getFileStatus(lp).getModificationTime).toOption)

  /** Acquire the writer lease at `path` (atomic create — two concurrent
    * acquirers cannot both win) and return this writer's OWNERSHIP TOKEN.
    * A fresh lease held by someone else is a loud IllegalStateException; a
    * stale one (older than `ttlMs`) is taken over via an atomic RENAME to a
    * tombstone, so two racing takers cannot both claim it (the loser's
    * rename finds no source and fails loud) and a taker can never delete
    * another taker's freshly written lease. */
  def acquireLease(spark: SparkSession, path: String,
                   ttlMs: Long = DefaultLeaseTtlMs): String = {
    val f = fs(spark, path)
    val lp = leasePath(path)
    val now = System.currentTimeMillis()
    leaseTs(f, lp).foreach { ts =>
      if (now - ts < ttlMs) throw new IllegalStateException(
        s"writer lease at $path is held (age ${now - ts} ms < ttl $ttlMs ms) — " +
          "another append is in flight; retry after it commits, or " +
          "GenCommit.breakLease if its writer is known dead")
      // stale: the writer's JVM died mid-append. Rename is the atomic fence:
      // exactly one taker moves the stale file aside; a concurrent taker's
      // rename finds no source and loses loudly below.
      val tomb = new org.apache.hadoop.fs.Path(path,
        s"_lease_tomb_${java.util.UUID.randomUUID().toString.take(8)}")
      if (!f.rename(lp, tomb)) throw new IllegalStateException(
        s"writer lease at $path was taken over concurrently")
      f.delete(tomb, false)
    }
    val token = java.util.UUID.randomUUID().toString
    val out = try f.create(lp, false) catch {
      case e: java.io.IOException => throw new IllegalStateException(
        s"writer lease at $path was acquired concurrently", e)
    }
    try out.write(s"$now $token".getBytes("UTF-8")) finally out.close()
    token
  }

  /** Verify the lease at `path` is still THIS writer's (token match) — the
    * commit fence: call immediately before making a generation visible, so
    * a writer whose lease aged out and was taken over aborts loudly instead
    * of landing an unfenced meta beside the new holder's writes. */
  def assertHeld(spark: SparkSession, path: String, token: String): Unit = {
    val held = leaseBody(fs(spark, path), leasePath(path))
      .exists(_.split("\\s+").lastOption.contains(token))
    if (!held) throw new IllegalStateException(
      s"writer lease at $path is no longer held by this writer (aged past the " +
        "TTL and taken over, or broken by an operator) — aborting before an " +
        "unfenced commit; the orphaned generation is vacuum-reclaimable")
  }

  /** Release a lease this writer holds (append epilogue) — verifies the
    * ownership token first, so a writer that lost its lease to a TTL
    * takeover throws instead of deleting the NEW holder's lease. */
  def releaseLease(spark: SparkSession, path: String, token: String): Unit = {
    assertHeld(spark, path, token)
    fs(spark, path).delete(leasePath(path), false)
  }

  /** Operator intervention: drop a lease whose writer is known dead without
    * waiting out the TTL (the only UNCONDITIONAL delete — everything
    * in-protocol releases through the token check). */
  def breakLease(spark: SparkSession, path: String): Unit =
    fs(spark, path).delete(leasePath(path), false)

  /** Run `body` (given the ownership token) holding the writer lease;
    * always released on exit (an in-JVM failure releases immediately — only
    * a JVM death leaves the stale file the TTL reclaims). A body that lost
    * the lease to a TTL takeover gets a loud release-time failure rather
    * than a silent delete of the new holder's lease. */
  private def withLease[T](spark: SparkSession, path: String)
                          (body: String => T): T = {
    val token = acquireLease(spark, path)
    try body(token) finally releaseLease(spark, path, token)
  }

  /** Reclaim dead bytes: delete `gen=N` partitions of `dataDirs` whose N is
    * not in the committed gens list (orphans of crashed appends) and
    * superseded derived/meta directories (`<prefix>N` with N ≠ the committed
    * meta's generation — readers only ever open the highest committed meta
    * and ITS derived tables). The committed meta is read INSIDE the held
    * lease: read before acquisition, an append could commit between the
    * read and the lease and get its fresh generation (absent from the stale
    * gens list) reclaimed. Every deletion is safe against READERS and
    * against a crash mid-vacuum (nothing reachable from the committed meta
    * is touched — a partial vacuum is a smaller but equally consistent
    * index). A CONCURRENT APPEND is fenced by the writer lease: appenders
    * hold `_lease` while their generation is in flight, and vacuum throws
    * rather than reclaim what might be a live generation (a stale lease —
    * writer died — ages out after the TTL and no longer blocks). `op` names
    * the caller in errors. Returns the number of directories removed. */
  def vacuum(spark: SparkSession, path: String, dataDirs: Seq[String],
             derivedPrefixes: Seq[String], op: String): Int =
    // HOLD the lease for the whole meta-read + list-and-delete pass, not
    // merely observe it: a check-then-act vacuum would race an appender
    // acquiring between the check and the deletes and reclaim its live
    // generation. A fresh lease refuses loudly (acquireLease's message); a
    // stale one is taken over — a dead writer's orphans are exactly what
    // vacuum reclaims.
    withLease(spark, path) { _ =>
      val meta = requireMeta(spark, path, op)
      val f = fs(spark, path)
      val committed = meta.gens.toSet
      var removed = 0
      def drop(p: String): Unit =
        if (f.delete(new org.apache.hadoop.fs.Path(p), true)) removed += 1
      for (d <- dataDirs;
           g <- listGens(spark, s"$path/$d", "gen=", requireSuccess = false)
           if !committed(g))
        drop(s"$path/$d/gen=$g")
      for (p <- derivedPrefixes :+ "meta_g";
           g <- listGens(spark, path, p, requireSuccess = false)
           if g != meta.gen)
        drop(s"$path/$p$g")
      removed
    }
}
