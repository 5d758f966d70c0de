package graft.io

import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parquet table IO + keyed-upsert idioms.
  *
  * Mirrors the reference's three Elasticsearch index writers
  * (solaius/data_pipeline2 `services/document_storage.py:66-84`,
  * `services/vector_storage.py:61-67`, `services/job_storage.py:55-75`):
  * ES "index by _id" upsert semantics become append + latest-wins
  * window dedupe over the key columns.
  *
  * 100 TB posture: `latestByKey` shuffles once on the key columns —
  * at scale, write these tables bucketed by the same keys so the
  * window is shuffle-free; never collect to the driver.
  */
object Tables {

  /** Read one driver table: `{dir}/{name}.parquet`.
    *
    * Time-type contract for the `events.ts` column — all three
    * on-disk encodings the driver has shipped are accepted and
    * normalized to one consistent `TimestampType` (micros, UTC
    * session) at load, mirroring the reference's tolerant ISO-8601
    * parse on read (solaius/data_pipeline2
    * `services/document_storage.py:68-69,122-123`):
    *   - parquet TIMESTAMP(NANOS): Spark 4 reads it as LongType nanos
    *     under `spark.sql.legacy.parquet.nanosAsLong=true`; divide to
    *     micros (integer division — a double would lose precision on
    *     epoch-nano magnitudes > 2^53), same truncation DuckDB applies
    *   - parquet TIMESTAMP(MICROS) without timezone: Spark reads
    *     TimestampNTZType; the session TZ is pinned UTC, so the cast
    *     to TimestampType is value-preserving
    *   - parquet TIMESTAMP(MICROS) with timezone: already
    *     TimestampType, passes through
    */
  /** Scale-adaptive scan spread (guide §2.5 "input skew": one huge
    * unsplittable file / a partitioned read planned NARROWER than the
    * cluster → repartition immediately after the read). When `df`'s
    * plan carries FEWER partitions than the session's parallelism —
    * a single small parquet file is the dev-scale case; one
    * unsplittable input the production one — redistribute rows by
    * hash of `key` so the heavy per-row operators downstream
    * (shingle+md5, zip+XML codecs, embedding) use every core instead
    * of one. When the scan already carries >= defaultParallelism
    * partitions (any healthy production layout) this is the identity:
    * no shuffle is added, the 100 TB plan is untouched. Hash-by-key
    * (not round-robin) keeps the assignment deterministic under task
    * retries (SPARK-38388) and skips round-robin's local sort.
    */
  def spread(df: DataFrame, key: String): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p, col(key))
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) {
      case (d, f) if f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType =>
        d.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case (d, f) if f.name == "ts" && f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        d.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case (d, _) => d
    }
  }

  /** Latest-wins dedupe by key: keep the single row with the highest
    * `version` ordering per key (the ES upsert-by-_id analogue,
    * reference `document_storage.py:86-114` update path).
    */
  def latestByKey(df: DataFrame, keys: Seq[String], version: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(version.map(_.desc): _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** Upsert: existing ∪ updates, then latest-wins per key — with
    * UPDATES WINNING VERSION TIES. ES index-by-_id always replaces;
    * an arbitrary tie-break here silently kept a STALE row whenever a
    * key was re-delivered under an unchanged version (the chunk
    * tables version by `lit(1)`, so a re-ingested doc whose content
    * changed could serve its old chunk text forever). The source rank
    * rides the same window — no extra shuffle.
    */
  def upsert(existing: DataFrame, updates: DataFrame, keys: Seq[String],
             version: Seq[Column]): DataFrame =
    latestByKey(
      existing.withColumn("__graft_src", lit(0))
        .unionByName(updates.withColumn("__graft_src", lit(1))),
      keys, version :+ col("__graft_src"))
      .drop("__graft_src")

  /** CHANGELOG APPLICATION — [[upsert]] with TOMBSTONES: fold an
    * I/U/D changelog into a snapshot. The latest entry per key wins
    * (several ops on one key collapse through [[latestByKey]] on
    * `version`); a surviving 'D' deletes the row, any other op
    * becomes the new row, untouched snapshot rows pass through via
    * one anti-join. The lakehouse MERGE: the nightly job reads the
    * changelog + k touched keys, never rewrites untouched history —
    * two shuffles total (the per-key window, the anti-join), both on
    * the key.
    *
    * `changelog` carries the snapshot's columns plus `opCol` (one of
    * "I"/"U"/"D") and the `version` ordering columns.
    */
  def applyChangelog(snapshot: DataFrame, changelog: DataFrame,
                     keys: Seq[String], opCol: String,
                     version: Seq[Column]): DataFrame = {
    val latest = latestByKey(changelog, keys, version)
    val live = latest.filter(col(opCol) =!= "D")
      .select(snapshot.columns.map(col): _*)
    snapshot
      .join(latest.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(live)
  }

  /** Point lookup by id (reference `document_storage.py:116-140` get path:
    * Redis tier -> ES get). The cache tier maps to `.cache()` on the
    * caller's side; here it is a pushed-down filter + limit 1.
    */
  def pointLookup(df: DataFrame, keyCol: String, id: Any): DataFrame =
    df.filter(col(keyCol) === lit(id)).limit(1)

  /** SNAPSHOT DIFF — corpus versioning: classify every document across
    * two snapshots as added / removed / changed / unchanged by content
    * fingerprint. The audit an incremental pipeline runs between
    * ingest generations (what entered, what left, what was edited)
    * before deciding what to re-chunk/re-embed.
    *
    * One full-outer equi-join on the id — at 100 TB both sides shuffle
    * once on the key (or not at all when the snapshots are the
    * co-bucketed store tables); fingerprints are md5 of the content so
    * "changed" never compares full texts across the join.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol), md5(col(textCol)).as("__old_fp"))
    val n = newDf.select(col(idCol), md5(col(textCol)).as("__new_fp"))
    o.join(n, Seq(idCol), "full_outer")
      .withColumn("change",
        when(col("__old_fp").isNull, "added")
          .when(col("__new_fp").isNull, "removed")
          .when(col("__old_fp") =!= col("__new_fp"), "changed")
          .otherwise("unchanged"))
      .drop("__old_fp", "__new_fp")
  }

  // ------------------------------------------------- bucketed store tables

  /** Write `df` as an external BUCKETED parquet table at `path` —
    * hash-bucketed (and sorted) by `bucketCol` into `nBuckets` files.
    * The catalog entry is transient (dropped right after the write —
    * the table is external, so the files stay); bucket identity
    * travels in the FILE NAMES, which is what lets a later session
    * re-attach bucketing metadata with [[registerBucketed]].
    *
    * The `repartition` aligns write parallelism with the bucket hash
    * (same murmur3 partitioning), so each task owns exactly one bucket
    * → one file per bucket, not tasks×buckets small files.
    */
  def writeBucketed(df: DataFrame, path: String, bucketCol: String,
                    nBuckets: Int): Unit = {
    val spark = df.sparkSession
    // unique per call: a fixed name would race concurrent writes and
    // clobber an unrelated table of that name in a shared catalog
    val tmpTable = s"graft_bucketed_write_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    df.repartition(nBuckets, col(bucketCol))
      .write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .option("path", path)
      .saveAsTable(tmpTable)
    spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
    val wrotePart = Option(new java.io.File(path).listFiles())
      .exists(_.exists(_.getName.startsWith("part-")))
    if (!wrotePart)
      // bucketed writers create files lazily per bucket: an EMPTY frame
      // leaves only _SUCCESS, and a file-less dir is unreadable
      // (UNABLE_TO_INFER_SCHEMA) — write the schema-bearing empty
      // parquet a plain write produces; openBucketed falls back to a
      // plain read of it.
      df.write.mode("overwrite").parquet(path)
    else
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path, BucketMarker), nBuckets.toString)
  }

  /** Sidecar recording the bucket count a directory was written with —
    * travels with the directory through the swap-commit renames, and is
    * what [[openBucketed]] trusts (the caller's expected count cannot
    * silently mislabel files hashed into a different count).
    */
  private val BucketMarker = "_graft_buckets"

  /** True when the parquet files at `path` were written by a bucketed
    * write (datasource bucket file names carry a `_NNNNN` bucket-id
    * suffix before the codec extension).
    */
  def looksBucketed(path: String): Boolean = {
    val files = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    files.nonEmpty && files.forall(_.getName.matches(".*_\\d{5}(\\.c\\d+)?\\..*"))
  }

  /** (Re-)attach an external bucketed table definition over the files
    * at `path` and return it as a DataFrame. Reading through the
    * catalog (not `spark.read.parquet`) is what carries the bucketing
    * metadata into the plan: two tables bucketed on the same key and
    * count then JOIN WITHOUT A SHUFFLE — on a 1000-executor cluster
    * this is the difference between an all-to-all of the embedding
    * store and a local merge per bucket. Falls back to a plain read if
    * the files are not bucket-named (a store written before bucketing).
    */
  def openBucketed(spark: SparkSession, table: String, path: String,
                   bucketCol: String, nBuckets: Int): DataFrame = {
    // the count in the DDL MUST be the count the files were hashed
    // with — declaring a different one plans shuffle-free joins over
    // wrong bucket assignments and silently drops rows. Trust only the
    // writer's marker; files without one read as plain parquet.
    val marker = new java.io.File(path, BucketMarker)
    if (!looksBucketed(path) || !marker.exists())
      return spark.read.parquet(path)
    val actualBuckets = java.nio.file.Files.readString(marker.toPath).trim.toInt
    val schema = spark.read.parquet(path).schema
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // the absolute URI: a relative LOCATION resolves against the
    // warehouse dir, not the working directory the path was given in
    spark.sql(
      s"""CREATE TABLE `$table` (${schema.toDDL}) USING PARQUET
          CLUSTERED BY (`$bucketCol`) SORTED BY (`$bucketCol`) INTO $actualBuckets BUCKETS
          LOCATION '${new java.io.File(path).toURI}'""")
    spark.table(table)
  }

  // ------------------------------------------------------- read handles

  private type Stamp = Seq[(String, AnyRef, Long, Long)]
  private final case class Handle(stamp: Stamp, value: Any)

  /** Open handles per session. Keyed by session identity, so a value
    * never crosses sessions, and a session's map is dropped when its
    * context ends: the frames reference their session, so a weak-keyed
    * map would never free a stopped session's entry.
    */
  private val handles =
    new ConcurrentHashMap[SparkSession, ConcurrentHashMap[String, Handle]]()

  private def handlesOf(spark: SparkSession) =
    handles.computeIfAbsent(spark, s => {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          handles.remove(s)
      })
      new ConcurrentHashMap[String, Handle]()
    })

  /** Driver-side fingerprint of the tree at `path`: relative name, file
    * key, mtime and size of every entry. A few hundred `stat`s, no Spark
    * job. None when the path is missing or changes under the walk.
    */
  private def stamp(path: String): Option[Stamp] = {
    val root = Paths.get(path)
    val out = Vector.newBuilder[(String, AnyRef, Long, Long)]
    def add(p: Path, a: BasicFileAttributes): FileVisitResult = {
      out += ((root.relativize(p).toString, a.fileKey,
               a.lastModifiedTime.to(TimeUnit.NANOSECONDS), a.size))
      FileVisitResult.CONTINUE
    }
    try {
      Files.walkFileTree(root, new SimpleFileVisitor[Path] {
        override def preVisitDirectory(d: Path, a: BasicFileAttributes) = add(d, a)
        override def visitFile(f: Path, a: BasicFileAttributes) = add(f, a)
      })
      Some(out.result().sortBy(_._1))
    } catch { case _: java.io.IOException => None }
  }

  /** The session's read handle on `path`: the value `open` computed
    * (a resolved frame, or a small driver-side value derived from the
    * tree such as corpus statistics or per-cell row counts), as long as
    * the fingerprint of the tree at `path` is unchanged. `part` names
    * one of several values held for the same path. Any change to an
    * entry re-opens, so a handle sees exactly the rows a fresh read
    * sees. A reuse skips `open`'s schema inference, file listing,
    * catalog DDL or collect, and starts no Spark job. The fingerprint
    * is taken before `open`: a write racing the open costs a re-open
    * on the next call, never a stale value. Every caller of one
    * (path, part) passes an equivalent `open`.
    */
  def handle[T](spark: SparkSession, path: String, part: String = "")(open: => T): T = {
    if (spark.sparkContext.isStopped) return open
    val root = new java.io.File(path).getAbsolutePath
    val key = if (part.isEmpty) root else s"$root#$part"
    val now = stamp(root)
    val mine = handlesOf(spark)
    Option(mine.get(key)) match {
      case Some(h) if now.contains(h.stamp) => h.value.asInstanceOf[T]
      case _ =>
        val v = open
        now match {
          case Some(s) => mine.put(key, Handle(s, v))
          case None => mine.remove(key)
        }
        v
    }
  }

  /** [[handle]] on a plain parquet read of `path`. */
  def read(spark: SparkSession, path: String): DataFrame =
    handle(spark, path)(spark.read.parquet(path))

  // ------------------------------------------------------- JSONL shards

  /** Write a table as compressed JSONL shards — the interchange format
    * a 100 TB text corpus actually ships in (one JSON object per line,
    * gzip per shard; each output partition becomes one shard, so shard
    * count = write parallelism).
    */
  def writeJsonl(df: DataFrame, path: String,
                 codec: String = "gzip"): Unit =
    df.write.mode("overwrite").option("compression", codec).json(path)

  /** Recursive delete — the one copy every swap-commit path shares. */
  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
  }

  /** The lease staleness horizon [[withTableLock]] defaults to — a
    * lock untouched for this long belongs to a crashed holder. Public
    * so lock-free observers (the fsck stale-aside audit) judge
    * liveness by the same clock the takeover does.
    */
  val DefaultStaleMs: Long = 30 * 60 * 1000L

  /** Serialize a table's read-merge-swap critical section across
    * concurrent WRITERS with a lease file (`$path.lock`).
    *
    * SURVEY §7.4.3 documents the race this closes: two writers both
    * read the live snapshot, merge their own updates, and swap — the
    * second swap silently discards the first writer's rows. Holding the
    * lease for the WHOLE cycle (read inside the lease, not just the
    * renames) makes the merge serializable: writer 2's read sees
    * writer 1's commit.
    *
    * Mechanics: every PROTOCOL step — the acquire attempt, the
    * stale-lease takeover, and the release — runs as one atomic unit
    * under a momentary OS file lock on `$path.lock.guard` (held for
    * microseconds, never across `body`). That guard is what makes the
    * compound exists→read→mutate sequences race-free: the earlier
    * steal-rename-restore dance could clobber a fresh lease acquired
    * inside its window, and a release could read its own token, stall
    * past `staleMs`, and then delete a successor's lease — with the
    * guard, staleness check + takeover and token check + delete are
    * each indivisible, so a takeover can only remove the exact lease it
    * judged stale and a release can only remove a lease that still
    * carries the releaser's token. Contenders — same-JVM threads and
    * other processes alike — serialize on the OS lock via a bounded
    * `tryLock` poll (an in-JVM overlap throws and counts as busy);
    * the kernel frees the guard if the holder crashes. Local-fs
    * scope, same as the rest of the store (advisory `flock` semantics
    * are not reliable on NFS). A lease older than `staleMs` is a
    * crashed holder and is taken over; contenders poll until
    * `timeoutMs`, then fail loudly rather than proceed unguarded.
    * READERS are not serialized — same as a real table format, a
    * reader concurrent with the swap window may need a retry; writers
    * are the ones that must never interleave.
    */
  /** `heartbeatMs` > 0 keeps the lease FRESH while `body` runs: a
    * daemon thread touches the lock's mtime on that cadence, so a
    * holder legitimately running past `staleMs` (a 100 TB export) is
    * never mistaken for a crashed one and taken over mid-job — while a
    * truly crashed holder's lease still goes stale within `staleMs` of
    * its last beat. The touch is conditionally token-checked: if the lease
    * was already taken over (we stalled PAST staleMs between beats),
    * the beat must not refresh the successor's lease.
    */
  def withTableLock[A](path: String, staleMs: Long = DefaultStaleMs,
                       timeoutMs: Long = 10 * 60 * 1000L,
                       heartbeatMs: Long = 0L)(body: => A): A = {
    val lock = new java.io.File(s"$path.lock")
    Option(lock.getParentFile).foreach(_.mkdirs())
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + timeoutMs
    var acquired = false
    while (!acquired) {
      acquired = underLockGuard(path, deadline) {
        if (lock.createNewFile()) {
          java.nio.file.Files.write(lock.toPath, token.getBytes("UTF-8"))
          true
        } else if (lock.lastModified() > 0 &&
                   System.currentTimeMillis() - lock.lastModified() > staleMs) {
          // crashed holder: replace its lease with ours — atomic w.r.t.
          // every other protocol step because we hold the guard
          lock.delete()
          val won = lock.createNewFile()
          if (won) java.nio.file.Files.write(lock.toPath, token.getBytes("UTF-8"))
          won
        } else false
      }
      if (!acquired) {
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"timed out after ${timeoutMs}ms waiting for table lease $lock")
        Thread.sleep(50)
      }
    }
    val beat: Option[Thread] =
      if (heartbeatMs <= 0) None
      else {
        val t = new Thread(() => {
          try while (!Thread.interrupted()) {
            Thread.sleep(heartbeatMs)
            // guarded + token-checked: never refresh a successor's
            // lease. A FAILED beat (guard contended past its deadline,
            // transient I/O on the guard channel) must not kill the
            // loop — a silently dead heartbeat is exactly the
            // mid-job-takeover failure this thread exists to prevent;
            // skip the beat and try again next tick.
            try underLockGuard(path, System.currentTimeMillis() + heartbeatMs) {
              val mine = scala.util.Try(new String(
                java.nio.file.Files.readAllBytes(lock.toPath), "UTF-8")).toOption
              // setLastModified's return is CHECKED: on a filesystem
              // that refuses mtime touches every beat would silently
              // no-op and the lease would go stale mid-job — exactly
              // the takeover this thread exists to prevent. Fall back
              // to rewriting the token bytes (a write updates mtime);
              // still guarded + token-checked, so never a successor's.
              if (mine.contains(token) &&
                  !lock.setLastModified(System.currentTimeMillis()))
                java.nio.file.Files.write(lock.toPath, token.getBytes("UTF-8"))
            } catch { case scala.util.control.NonFatal(_) => () }
          } catch { case _: InterruptedException => () }
        }, s"graft-lease-heartbeat-${lock.getName}")
        t.setDaemon(true)
        t.start()
        Some(t)
      }
    // release gets its own fresh deadline: the acquire deadline may be
    // long past after a slow body. If the guard stays busy even then,
    // the loud failure leaves our lease in place and staleMs recovery
    // eventually clears it — never delete unguarded.
    try body finally {
      beat.foreach { t => t.interrupt(); t.join(1000) }
      underLockGuard(path, System.currentTimeMillis() + timeoutMs) {
        val mine = scala.util.Try(new String(
          java.nio.file.Files.readAllBytes(lock.toPath), "UTF-8")).toOption
        // token mismatch = our lease expired and was taken over while we
        // ran; the successor's lease is not ours to delete
        if (mine.contains(token)) lock.delete()
      }
    }
  }

  /** Run `op` while holding an exclusive OS lock on `$path.lock.guard`.
    * The guard is held only for the microseconds a protocol step takes;
    * the kernel releases it if the process dies mid-step, so the guard
    * itself cannot go stale. Acquisition POLLS `tryLock` against
    * `deadlineMs` rather than blocking in `lock()` — a contender
    * stalled mid-step (SIGSTOP, disk stall; the kernel frees locks on
    * death, not on stop) must surface as the documented loud timeout,
    * not an unbounded hang. In-JVM overlap needs no separate monitor:
    * a second thread's `tryLock` on the held guard throws
    * OverlappingFileLockException, which counts as "busy, retry".
    */
  private def underLockGuard[A](path: String, deadlineMs: Long)(op: => A): A = {
    import java.nio.file.StandardOpenOption.{CREATE, WRITE}
    val guard = new java.io.File(s"$path.lock.guard")
    while (true) {
      val ch = java.nio.channels.FileChannel.open(guard.toPath, CREATE, WRITE)
      val fl = try ch.tryLock()
               catch {
                 case _: java.nio.channels.OverlappingFileLockException => null
               }
      if (fl != null) {
        try return op
        finally { fl.release(); ch.close() }
      }
      ch.close()
      if (System.currentTimeMillis() > deadlineMs)
        throw new IllegalStateException(
          s"timed out waiting for lock guard $guard")
      Thread.sleep(10)
    }
    throw new IllegalStateException("unreachable")
  }

  // ------------------------------------------------------- swap commit

  /** `live`'s sibling `<name><suffix>`, or the dot-prefixed
    * `.<name><suffix>` for a partition directory — hidden from
    * partition discovery, so a crash can never surface a pseudo-
    * partition.
    */
  private def sibling(live: java.io.File, hidden: Boolean,
                      suffix: String): java.io.File =
    new java.io.File(live.getParentFile,
                     (if (hidden) "." else "") + live.getName + suffix)

  /** The store's one commit: write the new copy of the directory `live`
    * at its `.tmp` sibling, then swap it in by renames —
    *   1. [[recover]] a copy an earlier swap left parked,
    *   2. drop leftover `.tmp` / `.trash` siblings,
    *   3. `write` the new copy to `.tmp` (it may read `live`),
    *   4. rename `live` aside to `.trash`,
    *   5. rename `.tmp` to `live`,
    *   6. drop `.trash`.
    * Fault points `<point>.after-tmp`, `.after-aside` and
    * `.after-commit` sit between steps 3-6. A crash at any of them
    * leaves a complete copy on disk: the old one (live, or parked in
    * `.trash` where [[recover]] finds it) or the new one. A leftover
    * `.tmp` may be half-written and is never trusted. Renames are
    * checked: a silently failed swap would drop the new copy.
    * Takes no lease — writers hold [[withTableLock]] around the whole
    * read-merge-swap. `hidden` names the siblings `.<name>.tmp` /
    * `.<name>.trash`, the partition-directory convention.
    */
  def swap(live: java.io.File, point: String, hidden: Boolean = false)
          (write: String => Unit): Unit = {
    val tmp = sibling(live, hidden, ".tmp")
    val trash = sibling(live, hidden, ".trash")
    recover(live, hidden)
    rmTree(tmp); rmTree(trash)
    write(tmp.toString)
    require(tmp.exists(), s"$tmp was not written")
    Faults.point(s"$point.after-tmp")
    install(live, tmp, trash, point)
  }

  /** Steps 4-6 of [[swap]]. An absent `fresh` removes `live`. */
  private def install(live: java.io.File, fresh: java.io.File,
                      trash: java.io.File, point: String): Unit = {
    if (live.exists()) require(live.renameTo(trash), s"aside-rename of $live failed")
    Faults.point(s"$point.after-aside")
    if (fresh.exists()) require(fresh.renameTo(live), s"commit rename into $live failed")
    Faults.point(s"$point.after-commit")
    rmTree(trash)
  }

  /** The recovery step beside [[swap]]: a swap that died between its
    * aside and commit renames left the only complete copy in `.trash`
    * with `live` gone — rename it back. Takes no lease. Returns true
    * when `live` exists afterwards.
    */
  def recover(live: java.io.File, hidden: Boolean = false): Boolean = {
    val trash = sibling(live, hidden, ".trash")
    if (!live.exists() && trash.exists())
      require(trash.renameTo(live), s"restoring $live from $trash failed")
    live.exists()
  }

  /** Swap the named partition directories of a `partCol`-partitioned
    * parquet layout for the matching partitions of `replacement` —
    * the per-partition commit every partitioned index (IVF/IVF-PQ
    * cells, postings term buckets) shares. `replacement` is written
    * once to a `$path.tmp` sibling (the live layout is untouched until
    * the renames), then each listed partition goes through [[swap]]'s
    * renames with a hidden `.$partCol=v.trash` aside. A partition
    * with no replacement rows (fully emptied) is deleted outright —
    * a dynamic-partition overwrite would silently leave its old
    * directory serving deleted rows. Crash leaves each partition
    * complete: old, new, or parked ([[recoverPartitionTrash]]).
    * Single-writer, quiesced-probe contract: between a partition's
    * aside-rename and its commit rename the live dir is briefly
    * absent, so a concurrent reader listing partitions in that window
    * silently misses it.
    */
  def replacePartitions(spark: SparkSession, path: String, partCol: String,
                        values: Seq[Long], replacement: DataFrame): Unit = {
    if (values.isEmpty) return
    recoverPartitionTrash(path, partCol)
    val tmp = new java.io.File(s"$path.tmp")
    rmTree(tmp)
    replacement.write.mode("overwrite").partitionBy(partCol).parquet(tmp.toString)
    values.foreach { v =>
      val live = new java.io.File(s"$path/$partCol=$v")
      install(live, new java.io.File(tmp, live.getName),
              sibling(live, hidden = true, ".trash"), "replacePartitions")
    }
    rmTree(tmp)
  }

  /** Converge crashed per-partition swaps before the next maintenance
    * pass touches the layout: a parked partition (live dir absent) is
    * [[recover]]ed; a STALE aside next to a fresh live dir (a swap
    * that died after its commit) is dropped. Either way the layout is
    * whole again and the re-run starts from a consistent tree. PUBLIC
    * because every maintenance op must run it BEFORE reading the
    * layout it will transform: `spark.read` lists files at analysis
    * time, so a parked partition recovered only inside
    * [[replacePartitions]] would be invisible to the replacement
    * frame — its rows absent, the partition then deleted as "emptied"
    * at the swap.
    */
  def recoverPartitionTrash(path: String, partCol: String): Unit =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith(s".$partCol=") &&
                   d.getName.endsWith(".trash"))
      .foreach { trash =>
        val live = new java.io.File(
          path, trash.getName.stripPrefix(".").stripSuffix(".trash"))
        if (live.exists()) rmTree(trash) else recover(live, hidden = true)
      }

  /** Per-partition small-file compaction for a `partCol`-partitioned
    * layout — the shared engine behind the IVF cell and postings
    * term-bucket compactors: each multi-file partition directory is
    * rewritten (shard count sized from its CURRENT on-disk bytes)
    * through [[swap]] with hidden siblings; single-file partitions are
    * untouched. Returns (filesBefore, filesAfter) summed over
    * partitions.
    */
  def compactPartitions(spark: SparkSession, path: String, partCol: String,
                        targetBytes: Long = 128L << 20): (Int, Int) = {
    recoverPartitionTrash(path, partCol)
    val partDirs = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(d => d.isDirectory && d.getName.startsWith(s"$partCol="))
    partDirs.map { d =>
      val files = Option(d.listFiles()).getOrElse(Array.empty).toSeq
        .filter(f => f.isFile && f.getName.startsWith("part-"))
      if (files.size <= 1) (files.size, files.size)
      else {
        val nShards = math.max(1,
          math.ceil(files.map(_.length()).sum.toDouble / targetBytes).toInt)
        swap(d, "compactPartitions", hidden = true) { tmp =>
          spark.read.parquet(d.toString).repartition(nShards)
            .write.mode("overwrite").parquet(tmp)
        }
        val after = Option(d.listFiles()).getOrElse(Array.empty)
          .count(f => f.isFile && f.getName.startsWith("part-"))
        (files.size, after)
      }
    }.foldLeft((0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  /** READER-SIDE crash preamble, shared by every table/artifact read
    * that must not silently miss a parked copy: [[recover]] under the
    * writer lease before any exists()/read decision. Returns true when
    * the live path exists afterwards. Double-checked inside the lease
    * so concurrent readers race safely.
    */
  def restoreFromTrash(path: String): Boolean = {
    val live = new java.io.File(path)
    if (!live.exists() && new java.io.File(s"$path.trash").exists())
      withTableLock(path)(recover(live))
    live.exists()
  }

  /** Sweep a STALE aside — live path present AND `.trash` present, a
    * writer that crashed between its commit rename and the trailing
    * cleanup: the trash is a superseded copy whose bytes an erasure
    * must not retain. No-op when the live path is missing (the trash
    * is then the ONLY copy — [[restoreFromTrash]]'s case, never
    * deleted here). Double-checked under the table lease so an active
    * swap (which holds it) is never raced.
    */
  def sweepStaleTrash(path: String): Unit = {
    val live = new java.io.File(path)
    val trash = new java.io.File(s"$path.trash")
    if (live.exists() && trash.exists())
      withTableLock(path) {
        if (live.exists() && trash.exists()) rmTree(trash)
      }
  }

  /** [[swap]] of a small store artifact under its table lease — the
    * tokenizer.parquet protocol, shared by every trained/derived-
    * artifact writer. NOT Overwrite-in-place: Overwrite deletes the
    * live dir first, so a crash mid-write would leave a half-written
    * artifact an exists() check would silently serve. READERS need
    * [[restoreFromTrash]] before their exists() check.
    */
  def commitArtifact(path: String)(writeTmp: String => Unit): Unit =
    withTableLock(path) {
      swap(new java.io.File(path), "commitArtifact")(writeTmp)
    }

  /** Compact a parquet/JSONL directory's shards to ~`targetBytes` files
    * — the operational tool a 100 TB store needs on two fronts: a
    * too-many-small-files table (each file is a task + a namenode
    * entry) and too-few-giant-gzip-JSONL shards (gzip is unsplittable,
    * so shard count caps read parallelism). Reads the table, sizes the
    * shard count from the CURRENT on-disk bytes (compressed — what the
    * next reader actually pays for), rewrites via `repartition`, and
    * lands it through [[swap]] under the table lease (a crash leaves a
    * complete old or new snapshot, never a mix). Returns
    * (filesBefore, filesAfter).
    *
    * NOTE: a repartition round-trip drops bucketing metadata — the
    * co-bucketed store tables compact through their own bucketed
    * writer instead ([[writeBucketed]] already writes one file per
    * bucket); this tool is for the export/ingest shard dirs.
    */
  def compact(spark: SparkSession, path: String, targetBytes: Long = 128L << 20,
              format: String = "parquet", codec: String = "gzip"): (Int, Int) =
    withTableLock(path) {
    def dataFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq
        .filter(f => f.isFile && f.getName.startsWith("part-"))
    val dir = new java.io.File(path)
    // a crash between the aside and commit renames parked the only
    // complete copy: restore it instead of failing 'nothing to compact'
    recover(dir)
    val before = dataFiles(dir)
    require(before.nonEmpty, s"nothing to compact at $path")
    val totalBytes = before.map(_.length()).sum
    val nShards = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = format match {
      case "parquet" => spark.read.parquet(path)
      // JSONL compaction must re-read with the data's own schema; the
      // caller owns schema stability (inference here is a plain read —
      // compaction is offline maintenance, not the hot path)
      case "json" => spark.read.json(path)
      case other => throw new IllegalArgumentException(s"unsupported format: $other")
    }
    swap(dir, "compact") { tmp =>
      val w = df.repartition(nShards).write.mode("overwrite")
      if (format == "parquet") w.parquet(tmp)
      else w.option("compression", codec).json(tmp)
    }
    (before.size, dataFiles(dir).size)
  }

  /** Read JSONL shards with an EXPLICIT schema (schema inference would
    * scan the corpus twice and type-drift across shards) in PERMISSIVE
    * mode: malformed lines land in `corrupt_record` instead of failing
    * the job — the same quarantine-don't-abort contract as ingest.
    * Shard files parallelize by Spark's file splitting (gzip shards are
    * one split each — size shards accordingly upstream). Spark
    * restriction: a query referencing ONLY `corrupt_record` must
    * `.cache()` the frame first (SPARK-21610).
    */
  def readJsonl(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema.add("corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "corrupt_record")
      .json(path)
}
