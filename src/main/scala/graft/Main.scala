package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.Schemas.{JobRow, JobStatus, JobType}
import graft.chunk.Chunkers
import graft.chunk.Chunkers.{ChunkerConfig, Strategy}
import graft.embed.Embedding
import graft.ingest.Ingest
import graft.io.{Pins, Tables}
import graft.io.Pins.pin
import graft.jobs.JobLedger
import graft.metrics.Metrics
import graft.search.Search

/** End-to-end driver program — the Spark-app analogue of the
  * reference's CLI + API surface (solaius/data_pipeline2
  * `cli/main.py:14-51`, `api/routes/documents.py:26-130`):
  *
  * {{{
  * graft.Main ingest <inputDir> <storeDir> [provider]
  * graft.Main status <storeDir> <docId>
  * graft.Main search <storeDir> <query> [provider] [k]
  * }}}
  *
  * `upload` becomes a distributed `binaryFile` scan of a directory (N
  * clients POSTing files ≡ N files in a prefix); the store is a set of
  * parquet tables (the engine's ES/Redis analogue — at 100 TB these
  * are bucketed tables behind a real table format, and the
  * write-new-then-swap below is the table format's atomic commit).
  *
  * The ingest run is fully ledgered (jobs table: queued → running →
  * completed/failed per document) and observed (A2/A4 metrics ride the
  * write actions via `df.observe` — no second scan; persisted to a
  * run-log table for A3/A5 counter queries).
  */
object Main {

  case class IngestReport(nDocs: Long, nFailed: Long, nChunks: Long,
                          nEmbedded: Long, observed: Map[String, Any])

  def main(args: Array[String]): Unit = args.toList match {
    case "ingest" :: in :: store :: rest =>
      val spark = session()
      val r = runIngest(spark, in, store, rest.headOption.getOrElse("nomic"),
                        new Timestamp(System.currentTimeMillis()))
      println(s"""{"ingested":${r.nDocs},"failed":${r.nFailed},""" +
              s""""chunks":${r.nChunks},"embedded":${r.nEmbedded}}""")
      spark.stop()
    case "export" :: store :: out :: rest =>
      val spark = session()
      val (n, missing) = runExport(spark, store, out, rest.headOption.getOrElse("nomic"))
      println(s"""{"exported":$n,"missing_embedding":$missing}""")
      spark.stop()
    case "curate" :: store :: out :: rest =>
      val spark = session()
      val decon = rest.collectFirst {
        case a if a.startsWith("--decon=") => a.stripPrefix("--decon=")
      }
      val embDecon = rest.collectFirst {
        case a if a.startsWith("--embdecon=") => a.stripPrefix("--embdecon=")
      }
      val pack = rest.collectFirst {
        case a if a.startsWith("--pack=") => a.stripPrefix("--pack=").toInt
      }
      val provider = rest.filterNot(_.startsWith("--"))
        .headOption.getOrElse("nomic")
      val target = rest.collectFirst {
        case a if a.startsWith("--target=") => a.stripPrefix("--target=")
      }
      val gopher = rest.collectFirst {
        case a if a.startsWith("--gopher=") =>
          a.stripPrefix("--gopher=").toInt
        case "--gopher" => 50
      }
      println(runCurate(spark, store, out, provider, decon, embDecon, pack,
                        redact = rest.contains("--redact"),
                        targetDir = target, gopherMinWords = gopher,
                        semDedup = rest.contains("--semdedup")))
      spark.stop()
    case "status" :: store :: docId :: Nil =>
      val spark = session()
      runStatus(spark, store, docId).foreach(println)
      spark.stop()
    case "get" :: store :: docId :: rest
        if rest.forall(_.startsWith("--snapshot=")) && rest.size <= 1 =>
      val spark = session()
      val root = rest.headOption
        .map(a => graft.io.Snapshots.openRoot(store, a.stripPrefix("--snapshot=")))
        .getOrElse(store)
      runGet(spark, root, docId).foreach(println)
      spark.stop()
    case "embeddings" :: store :: docId :: rest if rest.size <= 1 =>
      val spark = session()
      runGetEmbeddings(spark, store, docId, rest.headOption).foreach(println)
      spark.stop()
    case "fsck" :: store :: rest
        if rest.forall(f => f == "--repair" || f == "--snapshots") =>
      val spark = session()
      val snaps = rest.contains("--snapshots")
      val (lines, nViol) = runFsck(spark, store, snapshots = snaps)
      lines.foreach(println)
      // --repair runs when the audit found anything IT CAN FIX:
      // violations (row prunes) or stale-aside drift (the sweep —
      // nothing else cleans a crashed non-delete writer's aside). A
      // clean store skips the repair pass entirely: its full-table
      // anti-join re-audit under writer leases is not free, and a
      // cron'd `--repair` on a healthy 100 TB store must cost one
      // audit, not three.
      val repairable =
        nViol > 0 || lines.exists(_.contains(""""check":"stale_aside""""))
      if (rest.contains("--repair") && repairable) {
        runFsckRepair(spark, store, snapshots = snaps).foreach(println)
        val (after, nAfter) = runFsck(spark, store, snapshots = snaps)
        after.foreach(println)
        spark.stop()
        if (nAfter > 0) sys.exit(1)
      } else {
        spark.stop()
        if (nViol > 0) sys.exit(1)
      }
    case "compact" :: store :: rest =>
      val spark = session()
      val target = rest.headOption.map(_.toLong).getOrElse(128L << 20)
      runCompact(spark, store, target).foreach(println)
      spark.stop()
    case "search" :: store :: query :: rest =>
      val spark = session()
      val ann = rest.contains("--ann")
      val hybrid = rest.contains("--hybrid")
      val mmr = rest.contains("--mmr")
      val prf = rest.contains("--prf")
      val suggest = rest.contains("--suggest")
      val bm25 = rest.contains("--bm25")
      val nprobe = rest.collectFirst {
        case a if a.startsWith("--nprobe=") => a.stripPrefix("--nprobe=").toInt
      }.getOrElse(2)
      // --snapshot=<name>: read-only time travel — every table/index
      // read below resolves into the snapshot's hardlink tree; all
      // search variants are pure reads, so nothing else changes
      val root = rest.collectFirst {
        case a if a.startsWith("--snapshot=") =>
          graft.io.Snapshots.openRoot(store, a.stripPrefix("--snapshot="))
      }.getOrElse(store)
      val pos = rest.filterNot(a =>
        a == "--ann" || a == "--hybrid" || a == "--mmr" || a == "--prf" ||
          a == "--suggest" || a == "--bm25" || a.startsWith("--nprobe=") ||
          a.startsWith("--snapshot="))
      val provider = pos.headOption.getOrElse("nomic")
      val k = pos.drop(1).headOption.map(_.toInt).getOrElse(10)
      val lines =
        if (hybrid) runSearchHybrid(spark, root, query, k, nprobe)
        else if (ann) runSearchAnn(spark, root, query, k, nprobe)
        else if (mmr) runSearchMmr(spark, root, query, provider, k)
        else if (prf) runSearchPrf(spark, root, query, k)
        else if (suggest) runSearchSuggest(spark, root, query, k)
        else if (bm25) runSearchBm25(spark, root, query, k)
        else runSearch(spark, root, query, provider, k)
      lines.foreach(println)
      spark.stop()
    case "index" :: store :: rest =>
      val spark = session()
      val provider = rest.headOption.getOrElse("nomic")
      val nlist = rest.drop(1).headOption.map(_.toInt).getOrElse(8)
      val n = runBuildVectorIndex(spark, store, provider, nlist)
      println(s"""{"indexed":$n,"provider":"$provider"}""")
      spark.stop()
    case "balance" :: store :: rest =>
      val spark = session()
      val maxRows = rest.headOption.map(_.toLong).getOrElse(100000L)
      runBalanceVectorIndex(spark, store, maxRows).foreach(println)
      spark.stop()
    case "recall" :: store :: rest =>
      val spark = session()
      val k = rest.headOption.map(_.toInt).getOrElse(10)
      val nprobe = rest.drop(1).headOption.map(_.toInt).getOrElse(2)
      val nQ = rest.drop(2).headOption.map(_.toInt).getOrElse(5)
      runRecallCheck(spark, store, k, nprobe, nQ).foreach(println)
      spark.stop()
    case "drift" :: store :: Nil =>
      val spark = session()
      runDriftCheck(spark, store).foreach(println)
      spark.stop()
    case "reindex" :: store :: rest
        if rest.forall(_.startsWith("--if-drift=")) =>
      val spark = session()
      val ifDrift = rest.collectFirst {
        case a if a.startsWith("--if-drift=") =>
          a.stripPrefix("--if-drift=").toLong
      }
      runReindex(spark, store, ifDrift).foreach(println)
      spark.stop()
    case "profile" :: store :: rest
        if rest.forall(a => a == "--rebuild" || a.startsWith("--token=") ||
                            a.startsWith("--snapshot=")) =>
      val snap = rest.collectFirst {
        case a if a.startsWith("--snapshot=") => a.stripPrefix("--snapshot=")
      }
      // a snapshot is immutable history: profiling it is read-only by
      // construction (no heal write), and rebuilding it is a writing
      // op that must be refused, not silently skipped
      require(snap.isEmpty || !rest.contains("--rebuild"),
        "--rebuild writes the profile artifact and cannot target a snapshot")
      val spark = session()
      runProfile(spark,
                 snap.map(n => graft.io.Snapshots.openRoot(store, n))
                   .getOrElse(store),
                 rebuild = rest.contains("--rebuild"),
                 probeTokens = rest.collect {
                   case a if a.startsWith("--token=") => a.stripPrefix("--token=")
                 },
                 readOnly = snap.isDefined).foreach(println)
      spark.stop()
    case "delete" :: store :: rest if rest.exists(!_.startsWith("--")) ||
        rest.exists(_.startsWith("--ids-file=")) =>
      // unknown flags fail LOUDLY: a mistyped --purge-snapshot (or
      // --idsfile=) silently ignored would commit the takedown WITHOUT
      // the requested purge — a partial compliance action with no error
      rest.filter(_.startsWith("--")).foreach(f =>
        require(f == "--purge-snapshots" || f == "--scrub-snapshots" ||
            f.startsWith("--ids-file="),
          s"unknown delete flag: $f (expected --ids-file=F, " +
            "--purge-snapshots or --scrub-snapshots)"))
      val spark = session()
      val fromFile = rest.collectFirst {
        case a if a.startsWith("--ids-file=") =>
          scala.io.Source.fromFile(a.stripPrefix("--ids-file="), "UTF-8")
      }.map { src =>
        try src.getLines().map(_.trim).filter(_.nonEmpty).toList
        finally src.close()
      }.getOrElse(Nil)
      val ids = rest.filterNot(_.startsWith("--")) ++ fromFile
      runDelete(spark, store, ids,
                new Timestamp(System.currentTimeMillis()),
                purgeSnapshots = rest.contains("--purge-snapshots"),
                scrubSnapshots = rest.contains("--scrub-snapshots"))
        .foreach(println)
      spark.stop()
    case "dupreport" :: inDir :: rest =>
      val spark = session()
      val topK = rest.headOption.map(_.toInt).getOrElse(5)
      runDupReport(spark, inDir, topK).foreach(println)
      spark.stop()
    case "exportwds" :: store :: out :: rest =>
      val spark = session()
      val nShards = rest.headOption.map(_.toInt).getOrElse(4)
      runExportWds(spark, store, out, nShards).foreach(println)
      spark.stop()
    // snapshot/rollback are pure file-protocol ops — no Spark session
    case "snapshot" :: store :: name :: Nil =>
      val (n, bytes) = graft.io.Snapshots.create(store, name)
      println(s"""{"snapshot":"$name","n_files":$n,"bytes":$bytes}""")
    case "rollback" :: store :: name :: Nil =>
      val (n, bytes) = graft.io.Snapshots.restore(store, name)
      println(s"""{"restored":"$name","n_files":$n,"bytes":$bytes}""")
    case "snapshots" :: store :: Nil =>
      graft.io.Snapshots.list(store)
        .foreach(n => println(s"""{"snapshot":"$n"}"""))
    case "dropsnapshot" :: store :: name :: Nil =>
      graft.io.Snapshots.drop(store, name)
      println(s"""{"dropped":"$name"}""")
    case "watch" :: inbox :: store :: rest =>
      val spark = session()
      val provider = rest.filterNot(_.startsWith("--")).headOption
        .getOrElse("nomic")
      val follow = rest.contains("--follow")
      val trigger =
        if (follow)
          org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds")
        else org.apache.spark.sql.streaming.Trigger.AvailableNow()
      val n = runWatch(spark, inbox, store, provider, trigger)
      println(s"""{"drained":true,"docs_in_store":$n}""")
      spark.stop()
    case "tokenizer" :: store :: rest =>
      val spark = session()
      val rounds = rest.headOption.map(_.toInt).getOrElse(16)
      val n = runTrainTokenizer(spark, store, rounds)
      println(s"""{"merges":$n,"rounds":$rounds}""")
      spark.stop()
    case "train" :: store :: rest =>
      val spark = session()
      runTrainModel(spark, store, rest.headOption.map(_.toInt).getOrElse(2))
        .foreach(println)
      spark.stop()
    case "score" :: store :: Nil =>
      val spark = session()
      runScoreModel(spark, store).foreach(println)
      spark.stop()
    case "postings" :: store :: rest =>
      val spark = session()
      val n = runBuildPostings(spark, store,
                               rest.headOption.map(_.toInt).getOrElse(64))
      println(s"""{"postings":$n}""")
      spark.stop()
    case "phrase" :: store :: q :: Nil =>
      val spark = session()
      runPhrase(spark, store, q).foreach(println)
      spark.stop()
    case "metasearch" :: store :: q :: rest if rest.forall(_.contains("=")) =>
      val pairs = rest.map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }
      // conjunctive semantics: a repeated column is a contradiction the
      // user should hear about, not a silent last-one-wins widening
      require(pairs.map(_._1).distinct.size == pairs.size,
        s"repeated filter column(s): ${pairs.map(_._1).diff(pairs.map(_._1).distinct).distinct.mkString(", ")}")
      val filters = pairs.toMap
      val spark = session()
      runMetaSearch(spark, store, q, filters).foreach(println)
      spark.stop()
    case _ =>
      System.err.println(
        "usage: ingest <inDir> <store> [provider] | status <store> <docId> | " +
        "get <store> <docId> [--snapshot=<name>] | embeddings <store> <docId> [provider] | " +
        "search <store> <query> [provider] [k] [--ann|--hybrid|--mmr|--prf|--suggest|--bm25] [--nprobe=N] [--snapshot=<name>] | " +
        "export <store> <outDir> [provider] | " +
        "exportwds <store> <outDir> [nShards] | " +
        "curate <store> <outDir> [provider] [--decon=<dir>] [--embdecon=<dir>] " +
        "[--target=<dir>] [--gopher[=minWords]] [--semdedup] [--pack=<tokens>] " +
        "[--redact] | " +
        "delete <store> <docId> [docId ...] [--ids-file=F] [--purge-snapshots|--scrub-snapshots] | " +
        "fsck <store> [--repair] [--snapshots] | compact <store> [targetBytes] | " +
        "snapshot <store> <name> | rollback <store> <name> | snapshots <store> | dropsnapshot <store> <name> | " +
        "profile <store> [--rebuild] [--token=<t> ...] [--snapshot=<name>] | dupreport <inDir> [topK] | " +
        "postings <store> [nBuckets] | phrase <store> <phrase> | " +
        "metasearch <store> <query> [col=value ...] | " +
        "index <store> [provider] [nlist] | balance <store> [maxRows] | " +
        "recall <store> [k] [nprobe] [nQueries] | drift <store> | " +
        "reindex <store> [--if-drift=T] | tokenizer <store> [rounds] | " +
        "train <store> [rounds] | score <store> | " +
        "watch <inboxDir> <store> [provider] [--follow]")
      sys.exit(2)
  }

  private def session(): SparkSession =
    Session.builder(Session.envCpus).getOrCreate()

  // ------------------------------------------------------------------ ingest

  /** The full upload→convert→ledger→chunk→embed→store pipeline, one
    * Spark job chain, no driver-side row loops. Returns the run report
    * with the observation metrics that rode the writes.
    */
  def runIngest(spark: SparkSession, inputDir: String, storeDir: String,
                providerName: String, now: Timestamp): IngestReport =
    ingestBatch(spark,
      Ingest.convertDocuments(
        Ingest.toDocuments(Ingest.readBinaryDir(spark, inputDir), lit(now))),
      storeDir, providerName, now)

  /** Every store-side ingest stage past conversion — ledger, the
    * incremental near-dup keep-one tier (with stored-doc demotion),
    * chunking, cache-aside embedding, and the bucketed-store commit —
    * shared VERBATIM by the batch driver above and the streaming inbox
    * ([[graft.stream.Inbox]]): one pipeline definition, two execution
    * modes, which is the reference running the same service code on
    * queue items (`services/document_processor.py:96-132`). `docsIn`
    * is a converted documents frame ([[Ingest.convertDocuments]]
    * schema).
    *
    * `streaming = true` (the inbox path) swaps the `df.observe` metric
    * reads for direct aggregations over cached per-batch frames:
    * `Observation.get` blocks on a QueryExecutionListener event that is
    * NOT reliably delivered for actions nested inside a foreachBatch
    * micro-batch (the stream runs them under the streaming clone
    * session, and the listener never fires — the get parks the stream
    * execution thread forever). Micro-batches are bounded, so the
    * replacement pass is batch-sized, not corpus-sized; the batch
    * driver keeps the zero-extra-scan observe path.
    */
  def ingestBatch(spark: SparkSession, docsIn: DataFrame, storeDir: String,
                  providerName: String, now: Timestamp,
                  streaming: Boolean = false): IngestReport =
    // the ingest transaction holds the STORE-level lease end to end:
    // per-table leases make each table's read-merge-swap atomic, but a
    // snapshot (or another multi-table writer) interleaving BETWEEN
    // two of this batch's table commits would capture/produce a torn
    // cross-table state — the .store lease is the transaction boundary
    // Snapshots.create/restore serialize against
    Tables.withTableLock(s"$storeDir/.store") {
      // everything the batch pins (the tombstone id set, the stale-chunk
      // capture, the dedup clustering's per-round label tables) is its
      // scratch, freed on return AND on failure — a long-lived session
      // (the --follow consumer) must not accumulate pins per batch
      Pins.scope {
        // One row per doc_id: the same file delivered twice in one batch
        // (same bytes + filename under two paths → one id; rows identical
        // since `now` is batch-constant) is ONE upload. Without this the
        // keep-one window sees the id twice and flags one row !keep — the
        // doc lands in dupIds and prunes ITS OWN chunks from the commit.
        val docsAll = docsIn.dropDuplicates("doc_id").cache()
        try ingestBatchInner(spark, docsAll, storeDir, providerName, now, streaming)
        finally docsAll.unpersist()
      }
    }

  private def ingestBatchInner(spark: SparkSession, docsAll: DataFrame,
                               storeDir: String, providerName: String,
                               now: Timestamp,
                               streaming: Boolean): IngestReport = {
    import spark.implicits._

    // Trash-restore preamble BEFORE any exists() decision below: a
    // crashed prior commit parks a table's ONLY copy in .trash, and
    // every gate keyed on existence would otherwise misread the window
    // — the tombstone gate would let a re-upload resurrect a taken-down
    // doc, the profile gate would fold a batch-only artifact over a
    // table writeTable later restores, the signature probe would let a
    // near-dup of the stored corpus slip past dedup, and the postings
    // maintenance would skip its stale-doc removals.
    StoreTables.foreach(t => Tables.restoreFromTrash(s"$storeDir/$t.parquet"))
    // Takedown tombstones BLOCK resurrection: an arriving upload whose
    // doc_id matches a 'removed' documents row (same bytes + filename
    // → same id) leaves the batch before any stage sees it — a
    // re-upload must never silently undo a `Main delete`. The
    // tombstone id set is pinned EAGERLY (takedown-count-sized), so no
    // downstream lineage reads the documents table across its own
    // swap; the dropped count lands in the run log as n_tombstoned.
    val docsTablePath0 = new java.io.File(s"$storeDir/documents.parquet")
    val removedIds =
      if (docsTablePath0.exists())
        Some(spark.read.parquet(docsTablePath0.toString)
          .filter($"status" === Schemas.DocumentStatus.Removed)
          .select($"doc_id")).map(pin(_))
      else None
    val docs = removedIds match {
      case Some(r) => docsAll.join(r, Seq("doc_id"), "left_anti")
      case None => docsAll
    }

    // ledger: queued at t, then running, then completed/failed — three
    // appended versions per doc; latest-wins is the current state
    // (api/routes/documents.py:44-58's background-task lifecycle).
    val t1 = Timestamp.from(now.toInstant.plusMillis(1))
    val t2 = Timestamp.from(now.toInstant.plusMillis(2))
    val jobs = docs.select($"doc_id", $"status", $"error_message").as[(String, String, String)]
      .flatMap { case (id, st, err) =>
        val q = JobLedger.newJob(id, JobType.DocumentProcessing, now, totalItems = 1)
        val r = JobLedger.transition(q, JobStatus.Running, t1)
        val done =
          if (st == "failed") JobLedger.transition(r, JobStatus.Failed, t2, Option(err))
          else JobLedger.transition(r, JobStatus.Completed, t2).copy(processed_items = 1L)
        Seq(q, r, done)
      }.toDF()

    val ok = docs.filter($"status" =!= "failed")

    // near-dup keep-one (the q59/q60/q73 operators, wired as an ingest
    // stage): MinHash-LSH candidates → connected components → one
    // canonical doc per cluster (longest text, ties to min id).
    // Duplicates stay in the documents table — status 'duplicate',
    // metadata pointing at the kept doc — but are never chunked or
    // embedded, so the store's training surface is already deduped.
    //
    // Dedup is INCREMENTAL across runs: kept docs' banded signatures
    // persist in the signatures table, and each batch is probed against
    // them (one equi-join — the stored corpus is never re-shingled). A
    // stored doc outscored by an arriving near-dup is DEMOTED: its
    // documents row flips to 'duplicate' and its chunks/embeddings/
    // signatures are pruned from the store.
    // probed 3× below; one shingle pass, not three
    val sigsNew = pin(graft.dedup.Dedup.minhashSignatures(ok, "doc_id", "text", nBands = 4))
    val sigPath = new java.io.File(s"$storeDir/signatures.parquet")
    val storedSigs =
      if (sigPath.exists()) spark.read.parquet(sigPath.toString)
      else spark.emptyDataset[(String, Int, String, Long)]
        .toDF("doc", "band", "sig", "score")
    val pairs = graft.dedup.Dedup.candidatesFromSigs(sigsNew)
      .unionByName(graft.dedup.Dedup.incrementalCandidates(
        sigsNew, storedSigs.select($"doc", $"band", $"sig")))
    // keep-one nodes: the batch, plus only the stored docs an edge
    // touches (never the whole corpus — clustering stays batch-sized)
    val batchNodes = ok.select($"doc_id", length($"text").cast("long").as("__score"))
    val involved = pairs.select($"a_id".as("doc_id"))
      .union(pairs.select($"b_id".as("doc_id"))).distinct()
    val storedNodes = storedSigs.select($"doc".as("doc_id"), $"score".as("__score"))
      .distinct()
      .join(involved, Seq("doc_id"), "left_semi")
      .join(batchNodes, Seq("doc_id"), "left_anti") // re-ingested doc: fresh score
    // six downstream actions consume these flags (both prunes,
    // docsOut, demotion, signature write) — pin once or each re-runs
    // the LSH aggregation + stored-signature probe; freed with
    // ingestBatch's scope
    val dupFlags = pin(graft.dedup.Dedup.keepOne(
        batchNodes.unionByName(storedNodes), "doc_id", col("__score"),
        pairs, "a_id", "b_id")
      .select($"doc_id", $"comp", $"keep"))
    val kept = ok.join(dupFlags.filter($"keep"), Seq("doc_id"), "left_semi")
    // a doc KEPT by an earlier run can be demoted to duplicate when a
    // better cluster member arrives — its stored chunks/embeddings must
    // go too, or the "store is already deduped" invariant only holds
    // for single runs. Embedding rows carry the doc via the chunk-id
    // prefix (doc ids are fixed-width sha256 hex).
    val dupIds = dupFlags.filter(!$"keep").select($"doc_id")

    // A stored postings index (built by `Main postings`) is maintained
    // incrementally alongside the chunks it indexes: stale docs — this
    // run's demotions plus any re-ingested doc whose chunks the store
    // commit below replaces — get their old postings swapped out
    // (bucket-pruned: cost scales with the stale docs' vocabulary, not
    // the index), then the batch's kept chunks are appended. The stale
    // chunk set is pinned EAGERLY: a lazy read here must not outlive
    // the chunks table's swap-rename commit.
    val postingsPath = new java.io.File(s"$storeDir/postings.idx")
    val chunksDirF = new java.io.File(s"$storeDir/chunks.parquet")
    // Profile-state sync gate (PRE-commit): the stored artifact's fold
    // is only valid when its recorded fingerprint matches the table it
    // claims to summarize — any crash window between a chunks commit
    // and the artifact commit, or a foreign rewrite (compact, repair),
    // reads as a mismatch and the state rebuilds from the committed
    // table below instead of folding onto a stale base. A fresh store
    // folds from empty.
    val (profileFoldable, oldProfile) =
      graft.text.ProfileState.preCommitGate(spark, storeDir, chunksDirF)
    // Stale stored chunks: the rows this commit will replace
    // (re-ingested docs) or prune (demotions) — consumed by the
    // postings swap AND the profile-state subtraction. Pinned EAGERLY:
    // a lazy read here must not outlive the chunks table's swap-rename
    // commit.
    val staleStored =
      if (chunksDirF.exists()) {
        val stale = dupIds.unionByName(ok.select($"doc_id")).distinct()
        Some(openTable(spark, storeDir, "chunks")
          .join(stale.select($"doc_id".as("__sd")),
                substring($"chunk_id", 1, 64) === $"__sd", "left_semi")
          .select($"doc_id", $"chunk_id", $"content", $"strategy"))
          .map(pin(_))
      } else None
    val postingsRemovals =
      if (postingsPath.exists)
        staleStored.map(_.select($"chunk_id", $"content"))
      else None

    val chunked = Chunkers.chunkDocuments(
        kept.select($"doc_id", $"text"), "doc_id", "text",
        ChunkerConfig(chunkSize = 200, chunkOverlap = 20, strategy = Strategy.Hybrid))
      .withColumn("chunk_id", concat($"doc_id", lit("_"), $"chunk_id"))
    // Stale chunk_ids the new chunking does NOT reproduce (a re-ingested
    // doc that now chunks differently — fewer pieces, a changed chunker
    // config): the upsert's latest-per-chunk_id replaces reproduced ids
    // but would silently RETAIN the orphans, leaving the table (and the
    // embeddings keyed on those ids) serving chunks their doc no longer
    // has — and diverging from the profile artifact, which subtracts the
    // doc's ENTIRE stored chunk set. The same single probe also finds
    // CHANGED ids — reproduced chunk_ids whose replaced content differs
    // from the stored row's (a changed converter/chunker): their cached
    // embeddings and index codes embed text the commit is about to
    // replace (stored chunk content is immutable outside a re-ingest,
    // so this batch-sized set is the ONLY staleness source — the
    // id-keyed cache probe never reads corpus content).
    // Both sets can only come from KEPT re-ingested docs (a demoted
    // doc's rows leave wholesale via the dupIds doc_id anti-join), so
    // the probe restricts to kept ids — append-only batches AND
    // pure-demotion overlaps skip the probe's second chunker pass
    // (isEmpty on the pinned capture's semi-join is cheap). Pinned:
    // consumed by table prunes below, and the chunker re-run must not
    // outlive the table swap.
    val staleKeptChunks = staleStored.map(
      _.join(kept.select($"doc_id"), Seq("doc_id"), "left_semi"))
    val staleProbe = staleKeptChunks.filter(!_.isEmpty).map(sk =>
      sk.select($"chunk_id", $"content".as("__old"))
        .join(chunked.select($"chunk_id", $"content".as("__new")),
              Seq("chunk_id"), "left_outer")
        .select($"chunk_id", $"__new".isNull.as("__orphan"),
                ($"__new".isNotNull && !($"__new" <=> $"__old")).as("__changed"))
        .filter($"__orphan" || $"__changed")).map(pin(_))
    val staleDropIds = staleProbe.map(_.filter($"__orphan").select($"chunk_id"))

    // STALE-VECTOR ERASURE leaves BEFORE the chunks commit — the
    // postings ordering argument one tier down: BOTH stale classes
    // (orphaned ids AND changed ids) are DERIVED by comparing stored
    // content against the batch's, so once the new content commits, a
    // crashed run's re-delivery reads back its own committed text, the
    // comparison shows nothing stale, and no re-run would ever evict
    // the stale vectors again. Erasing first is idempotent (absent
    // rows erase to a no-op), leaves at worst an embedding-coverage
    // gap (the documented drift class the next batch heals — fsck
    // reports it, never a wrong answer), and makes the post-commit
    // recompute the ordinary cache-miss path — every crash window
    // converges by re-running the same batch. ALL providers' rows go
    // (no later backfill ingest could know the content changed), and
    // the vector index's rows go with them (the id-diff reconcile
    // below cannot see a vector swapped under a live id; an absent id
    // re-appends as the new vector).
    val staleVectorIds = staleProbe.map(_.select($"chunk_id")).filter(!_.isEmpty)
    staleVectorIds.foreach { ci =>
      if (new java.io.File(s"$storeDir/embeddings.parquet").exists())
        writeTable(spark, openTable(spark, storeDir, "embeddings").limit(0),
                   storeDir, "embeddings",
                   keys = Seq("chunk_id", "embedding_provider"),
                   version = Seq(lit(1)),
                   prune = m => m.join(ci, Seq("chunk_id"), "left_anti"))
      if (search.VectorIndex.exists(storeDir)) {
        val vecPath = search.VectorIndex.indexPath(storeDir)
        Tables.withTableLock(vecPath) {
          val idxRows = pin(spark.read.parquet(vecPath)
            .withColumn("cell", col("cell").cast("long"))
            .join(ci, Seq("chunk_id"), "left_semi")
            .select($"chunk_id", $"cell"))
          search.Ann.ivfRemoveFromIndex(spark, vecPath, idxRows, "chunk_id")
        }
      }
    }

    val chunkObs = new Observation("chunks")
    val embedObs = new Observation("embeddings")
    // streaming branch pins are EAGER localCheckpoints, not cache():
    // both frames are read again AFTER the store commit swaps the
    // table directories underneath their lineage (the metrics counts
    // below), and a cache() block evicted under memory pressure
    // recomputes through the PRE-swap file listing — FILE_NOT_EXIST.
    // Checkpointing truncates the lineage, so no recompute path into
    // swapped-away files exists; spill goes to disk, never back to
    // the dead listing.
    val chunksObserved =
      if (streaming) pin(chunked)
      else Metrics.observeChunkSizes(chunked, chunkObs)

    val (_, tChunks) = Metrics.timed {
      writeTable(spark, chunksObserved, storeDir, "chunks",
                 keys = Seq("chunk_id"), version = Seq(lit(1)),
                 prune = m => {
                   val noDup = m.join(dupIds, Seq("doc_id"), "left_anti")
                   staleDropIds.map(sd =>
                       noDup.join(sd, Seq("chunk_id"), "left_anti"))
                     .getOrElse(noDup)
                 })
    }
    // postings maintenance rides the chunks commit: stale docs out
    // (partition-pruned per-bucket swap), this batch's kept chunks in
    // (pure append into the existing bucket directories).
    if (postingsPath.exists) {
      postingsRemovals.foreach(rm =>
        Search.removeFromPostings(spark, rm, "chunk_id", "content",
                                  postingsPath.toString))
      // the appended postings are exactly this batch's kept chunks —
      // the rows the commit above just wrote: kept docs are disjoint
      // from dupIds, a re-ingested doc's stale postings were removed
      // first, and chunk_ids are unique because the batch is
      // doc_id-DISTINCT at entry (the dedupe above) and chunk ids are
      // doc-prefixed — so append from the in-hand batch plan instead
      // of re-scanning the whole bucketed chunks table + semi-join
      Search.appendPostings(spark, chunked.select($"chunk_id", $"content"),
                            "chunk_id", "content", postingsPath.toString)
    }
    // Profile-state maintenance rides the chunks commit
    // ([[graft.text.ProfileState]]): fold the batch's delta in —
    // subtracting exactly what the commit replaced or pruned — when
    // the stored state matched the pre-commit table; otherwise rebuild
    // from the committed table (first batch on a legacy store, or any
    // divergence the fingerprint gate detected). The artifact records
    // the POST-commit fingerprint, so `Main profile` serves from it
    // only while it is provably in sync.
    // the subtracted docs' ids (demotions + re-ingested replacements)
    // gate the EXACT register rebuild: few touched shards → the
    // register line serves ≡ rescan at shard-bounded cost; a wide
    // batch keeps the documented monotone fold (ProfileState
    // .MaxExactShards). Collected ONLY on the fold path —
    // commitAfterChunks reads subDocIds only when foldable, so on the
    // out-of-sync/rebuild path the distinct+collect would be pure
    // wasted driver work (and memory, on a large re-ingest batch).
    val profSubIds: Seq[String] =
      if (profileFoldable) staleStored
        .map(_.select($"doc_id").distinct().as[String].collect().toSeq)
        .getOrElse(Nil)
      else Nil
    val regsRescanned = graft.text.ProfileState.commitAfterChunks(
      spark, storeDir, chunksDirF,
      profileFoldable, oldProfile, addChunks = chunked,
      subChunks = staleStored,
      rebuildFrom = openTable(spark, storeDir, "chunks"),
      subDocIds = profSubIds)
    // cache-aside: on re-ingest only chunks without a fresh stored
    // embedding are computed (anti-join probe — the E6 operator); the
    // alternative recomputes the whole corpus every run.
    val storedChunks = openTable(spark, storeDir, "chunks")
    val embPath = new java.io.File(s"$storeDir/embeddings.parquet")
    val embeddedRaw =
      if (embPath.exists())
        // changed ids were ERASED from the cache pre-commit (see the
        // stale-vector erasure above), so they arrive here as ordinary
        // misses and recompute from the committed NEW content — the
        // corpus-sized hit path stays content-IO-free
        Embedding.embedWithCache(storedChunks,
          openTable(spark, storeDir, "embeddings"), providerName, now = now)
      else Embedding.embedChunksDistinct(storedChunks, providerName, now = now)
    val embedded =
      if (streaming) pin(embeddedRaw) // see chunksObserved
      else Metrics.observeEmbedding(embeddedRaw, embedObs)
    val (_, tEmbed) = Metrics.timed {
      writeTable(spark, embedded, storeDir, "embeddings",
                 keys = Seq("chunk_id", "embedding_provider"), version = Seq(lit(1)),
                 prune = m => {
                   val noDup = m.join(dupIds.select($"doc_id".as("__dup")),
                                      substring(col("chunk_id"), 1, 64) === col("__dup"),
                                      "left_anti")
                   // orphaned and changed ids' stale rows are already
                   // gone (erased pre-commit, all providers); changed
                   // ids' recomputed rows ride in the updates, orphans
                   // stay gone (their chunks left the table) — only
                   // the demotion prune remains here
                   noDup
                 })
    }
    // A stored vector index (built by `Main index`) is maintained
    // alongside the embeddings it serves, the way the postings index
    // rides the chunks commit: RECONCILED against the slice the commit
    // just landed — demoted docs' rows leave via the per-cell remove,
    // this batch's new rows append under the index's frozen sidecar
    // quantizers. Reconciling (a diff of id columns, then per-cell
    // writes sized by the diff) rather than replaying ingest events
    // makes the index self-healing: any divergence converges on the
    // next batch.
    if (search.VectorIndex.exists(storeDir)) {
      val vecPath = search.VectorIndex.indexPath(storeDir)
      val idxProvider = search.VectorIndex.readMeta(vecPath).provider
      search.VectorIndex.reconcile(spark, vecPath,
        openTable(spark, storeDir, "embeddings")
          .filter($"embedding_provider" === idxProvider),
        "chunk_id", "embedding")
    }
    // duplicates point at the KEPT doc (not the cluster label — the
    // keeper is the best-scored member, not necessarily the min id)
    val keeperOf = dupFlags.filter($"keep").select($"comp", $"doc_id".as("kept_id"))
    val docsOut = docs.join(dupFlags.join(keeperOf, Seq("comp")), Seq("doc_id"), "left")
      // the processed-document lifecycle lands with the commit:
      // pending → completed for every kept converted doc, exactly the
      // reference's post-processing transition
      // (services/document_processor.py:117-120); failures keep their
      // error status, demoted near-dups become 'duplicate'
      .withColumn("status",
        when($"keep" === false, lit("duplicate"))
          .when($"status" === "failed", $"status")
          .otherwise(lit(Schemas.DocumentStatus.Completed)))
      .withColumn("metadata_json",
        when($"keep" === false,
             concat(lit("{\"duplicate_of\":\""), $"kept_id", lit("\"}")))
          .otherwise($"metadata_json"))
      .drop("comp", "keep", "kept_id")
    // a STORED doc outscored by an arriving near-dup: rewrite its
    // documents row as 'duplicate' of the new keeper (its chunks/
    // embeddings/signatures are pruned via dupIds above). A doc that
    // was already a duplicate kept its pointer; pointers can chain
    // one hop per demotion, by design.
    val docsPath = new java.io.File(s"$storeDir/documents.parquet")
    val demotedStored = dupFlags.filter(!$"keep")
      .join(docs.select($"doc_id"), Seq("doc_id"), "left_anti")
      .join(keeperOf, Seq("comp"))
      .select($"doc_id", $"kept_id")
    val docUpdates =
      if (docsPath.exists())
        docsOut.drop("text").unionByName(
          spark.read.parquet(docsPath.toString)
            .join(demotedStored, Seq("doc_id"))
            .withColumn("status", lit("duplicate"))
            .withColumn("metadata_json",
              concat(lit("{\"duplicate_of\":\""), $"kept_id", lit("\"}")))
            .withColumn("updated_at", lit(t2))
            .drop("kept_id"))
      else docsOut.drop("text")
    writeTable(spark, docUpdates, storeDir, "documents",
               keys = Seq("doc_id"), version = Seq(col("updated_at")))
    // persist the kept docs' signatures — next run's incremental probe
    // side; demoted and duplicate docs leave the index with their data
    writeTable(spark,
               sigsNew.join(kept.select($"doc_id".as("doc"),
                                        length($"text").cast("long").as("score")),
                            Seq("doc")),
               storeDir, "signatures",
               keys = Seq("doc", "band"), version = Seq(lit(1)),
               prune = m => m.join(dupIds.select($"doc_id".as("doc")),
                                   Seq("doc"), "left_anti"))
    writeTable(spark, jobs, storeDir, "jobs",
               keys = Seq("job_id", "status"), version = Seq(col("updated_at")))
    // Q4 cache invalidation: this store commit stales every cached
    // search result OF THE INGESTED PROVIDER (the reference's
    // pattern-scoped SCAN+DELETE on document writes,
    // `services/search_cache.py:64-71`). When the commit DEMOTED docs,
    // the embeddings prune above removed EVERY provider's rows for
    // those docs — other providers' cached results may now rank
    // deleted chunks, so the whole cache goes (over-invalidation is
    // safe: the cache is derived data; a scoped miss merely recomputes).
    val demotionHappened = !dupIds.isEmpty
    invalidateSearchCache(spark, storeDir,
                          if (demotionHappened) None else Some(providerName))

    // run-log: the observation values + stage latencies as rows — the
    // A3/A5 counter/histogram source (utils/metrics.py parity).
    // An EMPTY written frame (every input failed conversion) reaches
    // the writer as an empty relation, and Catalyst's empty-relation
    // propagation erases the CollectMetrics node — the observation
    // then reports NO map at all, so every metric read needs a zero
    // default, not just a null guard.
    val obs: Map[String, Any] =
      if (streaming) {
        // same metric names as the observe path, recomputed over the
        // cached batch frames (see the streaming note in the Scaladoc)
        val c = chunksObserved.agg(
            count(lit(1)), min(length($"content")), max(length($"content")),
            avg(length($"content"))).head()
        Map("n_chunks" -> c.getLong(0), "min_len" -> c.get(1),
            "max_len" -> c.get(2), "avg_len" -> c.get(3),
            "n_embedded" -> embedded.count(),
            "n_providers" ->
              embedded.select($"embedding_provider").distinct().count())
      } else chunkObs.get ++
        Map("n_embedded" -> embedObs.get.getOrElse("n_embedded", 0L),
            "n_providers" -> embedObs.get.getOrElse("n_providers", 0L))
    val nDocs = docs.count()
    val nFailed = docs.filter($"status" === "failed").count()
    val nTombstoned =
      if (removedIds.isDefined) docsAll.count() - nDocs else 0L
    val runLog = (obs.toSeq.map { case (m, v) =>
        ("ingest", m, Option(v).map(_.toString.toDouble).getOrElse(0.0))
      } ++ Seq(("chunk_write", "seconds", tChunks),
               ("embed_write", "seconds", tEmbed),
               ("ingest", "n_tombstoned", nTombstoned.toDouble))
        // the register-rebuild scan bound (shard-sized, spec-asserted)
        // when the exact path ran; an explicit monotone marker when a
        // wide subtraction kept the documented upper-bound behavior —
        // the report SAYS which registers it is serving
        ++ regsRescanned.map(n =>
             ("ingest", "n_chunks_rescanned_for_regs", n.toDouble)).toSeq
        ++ (if (profileFoldable && profSubIds.nonEmpty && regsRescanned.isEmpty)
              Seq(("ingest", "regs_monotone_after_demotion", 1.0))
            else Nil))
      .toDF("stage", "metric", "value")
      .withColumn("run_at", lit(now))
    appendRunlogFrame(storeDir, runLog)
    IngestReport(nDocs, nFailed,
                 obs.getOrElse("n_chunks", 0L).toString.toLong,
                 obs.getOrElse("n_embedded", 0L).toString.toLong, obs)
  }

  /** Bucketing layout for the two hot store tables: chunks and
    * embeddings are co-bucketed by `chunk_id` so the cache probe (J1)
    * and reassembly (J3) joins between PERSISTED tables plan without a
    * shuffle — the same property BucketingSpec proves for in-memory
    * writes, now held by the store itself.
    */
  val StoreBuckets = 32
  private val bucketedTables = Set("chunks", "embeddings")

  /** The swap-committed store tables every existence-keyed gate must
    * trash-restore before reading — ONE list shared by ingest and
    * delete so a future fifth table cannot drift between them (fsck's
    * generic `*.parquet.trash` sweep covers audits).
    */
  private val StoreTables = Seq("documents", "chunks", "embeddings",
                                "signatures")

  /** A store table through the session's read handle
    * ([[graft.io.Tables.handle]]): the same resolved frame on every
    * call while the table's directory tree is unchanged, re-opened
    * after any commit, append or outside move touches it. An open
    * attaches bucketing metadata through the catalog when the table is
    * one of the co-bucketed pair (a plain read for old stores), so the
    * catalog DDL runs only on a re-open. The catalog name carries a
    * PATH hash: `--snapshot=` reads mix a snapshot root and the live
    * root in one session, and a fixed name re-registered per open
    * would silently re-resolve a lazily-held frame from one root to
    * the most recently opened other — distinct roots must be distinct
    * catalog entries.
    */
  def openTable(spark: SparkSession, storeDir: String, name: String): DataFrame = {
    val path = s"$storeDir/$name.parquet"
    Tables.handle(spark, path) {
      if (bucketedTables(name)) {
        val pathTag = java.security.MessageDigest.getInstance("MD5")
          .digest(new java.io.File(path).getAbsolutePath.getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        Tables.openBucketed(spark, s"graft_${name}_$pathTag", path,
                            "chunk_id", StoreBuckets)
      } else spark.read.parquet(path)
    }
  }

  /** Upsert-write one store table: existing ∪ updates → latest per key
    * → write NEW snapshot, then [[graft.io.Tables.swap]] it in (the
    * local-fs stand-in for a table-format commit; at scale this is
    * Delta/Iceberg's job).
    */
  private[graft] def writeTable(spark: SparkSession, updates: DataFrame, storeDir: String,
                         name: String, keys: Seq[String],
                         version: Seq[org.apache.spark.sql.Column],
                         prune: DataFrame => DataFrame = identity): Unit = {
    val path = new java.io.File(s"$storeDir/$name.parquet")
    // the WHOLE read-merge-swap runs under the table lease: a second
    // writer that merged against the pre-commit snapshot would discard
    // this writer's rows at its own swap (the §7.4.3 race — now an
    // enforced invariant, see Tables.withTableLock + ConcurrencySpec)
    Tables.withTableLock(path.toString) {
      Tables.swap(path, "writeTable") { tmp =>
        val merged =
          if (path.exists())
            Tables.upsert(spark.read.parquet(path.toString), updates, keys, version)
          else updates
        writeStoreTable(prune(merged), name, tmp)
      }
    }
  }

  /** Write `df` as store table `name` at `path`: the co-bucketed pair
    * keeps its bucket layout, every other table is plain parquet.
    */
  private def writeStoreTable(df: DataFrame, name: String, path: String): Unit =
    if (bucketedTables(name))
      Tables.writeBucketed(df, path, "chunk_id", StoreBuckets)
    else df.write.mode(SaveMode.Overwrite).parquet(path)

  // ------------------------------------------------------------------ export

  /** `export <store> <outDir>`: the training-surface export — every
    * stored chunk (the store is already deduped at ingest) joined with
    * its embedding and a BPE-lexer token count, shipped as gzip JSONL
    * shards (the format a training corpus actually interchanges in).
    * The join runs over the co-bucketed tables, so it plans without a
    * shuffle; exported and missing-embedding counts ride the write as
    * observations — no second pass. A chunk without a stored embedding
    * for the requested provider (wrong provider name, or the
    * failure-skip path at embed time) is NOT silently dropped: it is
    * counted and reported, and the caller decides whether a nonzero
    * `missing` is acceptable.
    */
  /** `watch <inboxDir> <store> [provider] [--follow]`: the streaming
    * product path — every micro-batch runs the EXACT batch ingest
    * stages against the same store (convert → dedup/demote → chunk →
    * embed → swap commit + postings/vector-index reconcile, one
    * pipeline definition in two execution modes). The default
    * AvailableNow trigger drains what's in the inbox and returns
    * (cron-able, exactly-once per file via the stream checkpoint);
    * `--follow` polls every 10 s until killed. Returns the store's
    * post-drain document count.
    *
    * LIVE MONITOR LINES ride the drain
    * ([[graft.stream.Inbox.startMonitors]]): per micro-batch, per
    * content-type scope, a distinct-payload estimate (HLL registers)
    * and the heavy-hitter payloads (Count-Min + bounded candidates) —
    * the running "is this inbox spamming me duplicates" answer, with
    * bounded state however long `--follow` runs. `emit` receives each
    * line (stdout in the CLI).
    */
  def runWatch(spark: SparkSession, inboxDir: String, storeDir: String,
               providerName: String = "nomic",
               trigger: org.apache.spark.sql.streaming.Trigger =
                 org.apache.spark.sql.streaming.Trigger.AvailableNow(),
               emit: String => Unit = println): Long = {
    val monitors = graft.stream.Inbox.startMonitors(
      spark, inboxDir, storeDir, emit, trigger)
    // a failed ingest drain must not orphan the monitor query: it
    // would keep polling (and checkpoint-writing) detached after the
    // failure propagated — stop it on ANY non-normal exit. The stop()
    // calls are best-effort: a stop that itself throws (context
    // already shutting down, stop timeout) must never MASK the real
    // streaming failure that is propagating.
    try {
      val q = graft.stream.Inbox.start(spark, inboxDir, storeDir,
                                       providerName, trigger)
      try q.awaitTermination()
      catch {
        case e: Throwable =>
          try q.stop()
          catch { case s: Throwable => e.addSuppressed(s) }
          throw e
      }
      monitors.foreach(_.awaitTermination())
    } finally monitors.filter(_.isActive).foreach { m =>
      // catch Throwable, not just NonFatal: an InterruptedException
      // escaping this finally would REPLACE the real streaming failure
      // mid-propagation and skip stopping the remaining monitors. The
      // failure is signalled (an orphaned monitor keeps polling and
      // checkpoint-writing — the operator must hear about it) and the
      // interrupt flag is preserved rather than swallowed.
      try m.stop()
      catch {
        case s: Throwable =>
          emit(s"""{"monitor":"stop_failed","detail":"${jsonEscape(
            Option(s.getMessage).getOrElse(s.getClass.getSimpleName))}"}""")
          if (s.isInstanceOf[InterruptedException])
            Thread.currentThread().interrupt()
      }
    }
    val docs = new java.io.File(s"$storeDir/documents.parquet")
    if (docs.exists()) spark.read.parquet(docs.toString).count() else 0L
  }

  /** `tokenizer <store> [rounds]`: train the store's OWN BPE
    * tokenizer over the chunk contents (q145's multi-round trainer —
    * one corpus word-count aggregate, vocab-sized rounds) and persist
    * the ordered merge table as a store artifact. From then on
    * [[runExport]]/[[runCurate]] count tokens under the TRAINED
    * tokenizer instead of the BPE-lexer proxy, so a `--pack` budget
    * means sequences of the tokenizer the model will actually train
    * with — the artifact-to-budget loop closed, reported in the
    * curate manifest as `tokenizer`.
    */
  def runTrainTokenizer(spark: SparkSession, storeDir: String,
                        rounds: Int = 16): Long = {
    val path = s"$storeDir/tokenizer.parquet"
    val merges = graft.text.TextStats.bpeTrain(
      openTable(spark, storeDir, "chunks").select(col("content")),
      "content", rounds)
    Tables.commitArtifact(path) { tmp =>
      merges.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    }
    val n = spark.read.parquet(path).count()
    appendRunlog(spark, storeDir, "tokenizer", Seq("merges" -> n))
    n
  }

  /** A stored artifact frame, read after [[Tables.restoreFromTrash]]:
    * a writer that died between aside-rename and commit parked the
    * only copy in `.trash`, and a bare exists() check would silently
    * report "no artifact".
    */
  private def storedArtifact(spark: SparkSession, storeDir: String,
                             name: String): Option[DataFrame] = {
    val f = new java.io.File(storeDir, name)
    if (!Tables.restoreFromTrash(f.toString)) None
    else Some(spark.read.parquet(f.toString))
  }

  // ----------------------------------------------------------- train / score

  /** The boost-model feature frame over the store's chunks: predict a
    * chunk's content length from its position features
    * (chunk_number, total_chunks) — the store's own size model, the
    * operational twin of q131's events trace. One definition so train
    * and score see the identical input.
    */
  private def modelFeatures(spark: SparkSession, storeDir: String): DataFrame =
    openTable(spark, storeDir, "chunks").select(
      col("chunk_number").cast("long").as("chunk_number"),
      col("total_chunks").cast("long").as("total_chunks"),
      length(col("content")).cast("long").as("n_chars"))

  /** `train <store> [rounds]`: train the boosted-stump model over the
    * store's chunks and persist the trace + base prediction as
    * `model_boost.parquet` (the tokenizer.parquet convention). At
    * 100 TB training is the corpus pass you run ONCE; `score` is the
    * map-side pass you run per batch — this command closes the learn
    * tier's train→persist→serve loop. Returns the trace as JSON lines.
    */
  def runTrainModel(spark: SparkSession, storeDir: String,
                    rounds: Int = 2): Seq[String] = {
    val path = s"$storeDir/model_boost.parquet"
    val model = graft.learn.Learn.boostTrainModel(
      modelFeatures(spark, storeDir),
      Seq("chunk_number", "total_chunks"), "n_chars", rounds)
    Tables.commitArtifact(path) { tmp =>
      model.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    }
    appendRunlog(spark, storeDir, "train", Seq("rounds" -> rounds.toLong))
    spark.read.parquet(path).orderBy(col("round")).collect().toSeq.map { r =>
      s"""{"round":${r.getAs[Long]("round")},"feat":"${r.getAs[String]("feat")}",""" +
        s""""threshold":${r.getAs[Long]("threshold")},""" +
        s""""mean_left":${r.getAs[Long]("mean_left")},""" +
        s""""mean_right":${r.getAs[Long]("mean_right")},""" +
        s""""sse_after":${r.getAs[Long]("sse_after")},""" +
        s""""p0":${r.getAs[Long]("p0")}}"""
    }
  }

  /** `score <store>`: score the store's chunks under the STORED model
    * — inference only, never retraining (fails loudly if `train` has
    * not run). One JSON line per feature cell (cell count is bounded
    * by the chunking config, never corpus-sized): the fitted
    * prediction and exact residual SSE, [[graft.learn.Learn.boostScoreCells]].
    */
  def runScoreModel(spark: SparkSession, storeDir: String): Seq[String] = {
    val model = storedArtifact(spark, storeDir, "model_boost.parquet")
      .getOrElse(sys.error(s"no model_boost.parquet under $storeDir — run `train` first"))
    graft.learn.Learn.boostScoreCells(
        modelFeatures(spark, storeDir),
        Seq("chunk_number", "total_chunks"), "n_chars", model)
      .orderBy(col("chunk_number"), col("total_chunks"))
      .collect().toSeq.map { r =>
        s"""{"chunk_number":${r.getAs[Long]("chunk_number")},""" +
          s""""total_chunks":${r.getAs[Long]("total_chunks")},""" +
          s""""n_rows":${r.getAs[Long]("n_rows")},""" +
          s""""pred":${r.getAs[Long]("pred")},"sse":${r.getAs[Long]("sse")}}"""
      }
  }

  /** The store's trained merge list in round order — None until
    * `Main tokenizer` has run. Rounds-sized (a driver list by
    * construction).
    */
  private def storedMerges(spark: SparkSession, storeDir: String)
      : Option[Seq[(String, String)]] = {
    // storedArtifact restores a merge table a crashed trainer parked;
    // a bare exists() check would demote every export to the lexer
    storedArtifact(spark, storeDir, "tokenizer.parquet").map(
      _.orderBy(col("round"))
        .select(col("lft"), col("rgt"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq)
  }

  /** Per-chunk `n_tokens` under the store's tokenizer tier: the
    * trained stored merges when present ([[graft.text.TextStats.bpeApply]]
    * — only DISTINCT words pay the merge folds, counts come back
    * through one vocab join; a wordless chunk counts 0), else the
    * codegen BPE-lexer proxy. Returns the frame plus the tokenizer
    * name for the manifest.
    */
  private def withTokenCounts(spark: SparkSession, storeDir: String,
                              chunks: DataFrame): (DataFrame, String) =
    storedMerges(spark, storeDir) match {
      case Some(ms) =>
        val counts = graft.text.TextStats
          .bpeApply(chunks.select(col("chunk_id"), col("content")),
                    "chunk_id", "content", ms)
          .select(col("chunk_id"), col("n_tokens"))
        (chunks.join(counts, Seq("chunk_id"), "left")
           .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L))),
         "stored-bpe")
      case None =>
        (chunks.withColumn("n_tokens",
           size(graft.text.TextStats.bpeTokens(col("content"))).cast("long")),
         "bpe-lexer")
    }

  def runExport(spark: SparkSession, storeDir: String, outDir: String,
                providerName: String): (Long, Long) = {
    val (chunks, _) = withTokenCounts(spark, storeDir,
      openTable(spark, storeDir, "chunks")
        .select(col("doc_id"), col("chunk_id"), col("content")))
    val emb = openTable(spark, storeDir, "embeddings")
      .filter(col("embedding_provider") === providerName)
      .select(col("chunk_id"), col("embedding"))
    val obs = new Observation("export")
    val rows = chunks.join(emb, Seq("chunk_id"), "left")
      .observe(obs,
        count(col("embedding")).as("n"),
        count(when(col("embedding").isNull, 1)).as("n_missing"))
      .filter(col("embedding").isNotNull)
    Tables.writeJsonl(rows, s"$outDir/chunks")
    // empty written frame → CollectMetrics erased → empty metrics map
    // (same guard as runIngest); report 0, don't throw
    val m = obs.get
    val n = m.getOrElse("n", 0L).toString.toLong
    val missing = m.getOrElse("n_missing", 0L).toString.toLong
    appendRunlog(spark, storeDir, "export",
                 Seq("exported" -> n, "missing_embedding" -> missing))
    (n, missing)
  }

  // ------------------------------------------------------------------ curate

  /** `curate <store> <outDir>`: the training-ready export — [[runExport]]
    * plus the curation tier the library already verifies, chained over
    * the store as one product command:
    *
    *   1. kept docs (not failed, not demoted-duplicate — completion is
    *      the JOBS ledger's story, the doc row keeps its upload status)
    *      → converted text (the same [[Ingest.convertDocuments]] pass
    *      ingest ran — the store keeps original bytes, not text);
    *   2. per-source adaptive quality gate (q148: each content_type's
    *      bottom stopword-density quartile drops against ITS OWN
    *      baseline, never a global cutoff);
    *   2b. (with `--decon=<benchDir>`) benchmark decontamination
    *      (q61's winnowing-fingerprint scan): the benchmark dir is
    *      read/converted exactly like an ingest upload, and any corpus
    *      doc sharing ≥2 winnowing fingerprints with ANY benchmark doc
    *      is dropped and counted — the eval-leakage scrub before the
    *      export ships (docs too short to fingerprint can't match, by
    *      winnowing's construction);
    *   2c. (with `--embdecon=<benchDir>`) SEMANTIC decontamination
    *      (q149 as a product stage): the benchmark dir chunks and
    *      embeds under the vector index's provider, both sides assign
    *      to the sidecar's trained coarse cells, and any doc with a
    *      chunk at cos ≥ 0.9 of a benchmark chunk drops — the
    *      paraphrase tier the verbatim scan cannot see (requires
    *      `Main index`; the trained quantizer is the blocking key);
    *   2d. (with `--target=<dir>`) DSIR-style target-domain selection
    *      (q155 as a product stage): the target dir converts like an
    *      ingest upload, both sides feed one hashed-feature count, and
    *      a doc survives iff its exact-integer linearized importance
    *      weight is positive (its token mass leans target, not rest);
    *   2e. (with `--gopher[=minWords]`) the Gopher rule bundle (q157):
    *      word-count/word-length/symbol/bullet/ellipsis/alpha/function-
    *      word heuristics, each an integer rational — the classic
    *      web-corpus battery as an opt-in second gate;
    *   2f. (with `--redact`) PII scrub (the q67 redaction pass):
    *      emails/URLs/IPv4s in the exported chunk text are replaced
    *      with placeholder tokens BEFORE token counting — the `--pack`
    *      budget measures the text the trainer actually sees — and the
    *      per-category match counts land in the manifest and runlog;
    *   2g. (with `--semdedup`) within-corpus SEMANTIC dedup (q167's
    *      SemDeDup as a product stage): chunk embeddings assign to the
    *      vector index's trained cells, within-cell chunk pairs at
    *      cos ≥ 0.9 project to doc edges, connected components label
    *      the groups, and one doc per group survives — the
    *      best-quality member still passing every other gate (ties
    *      ascending doc_id); the near-dup tier ingest's minhash cannot
    *      see (a shared verbatim passage inside otherwise-different
    *      docs; requires `Main index`, like `--embdecon`);
    *   3. leakage-safe train/val/test split (q144): assigned by near-dup
    *      CLUSTER via the STORE'S persisted minhash signatures — no
    *      re-shingle; every cluster moves as a unit, so the held-out
    *      splits never score near-copies of training text. (A store
    *      ingested with keep-one leaves mostly singleton clusters; the
    *      cluster split is what keeps that guarantee when ingest dedup
    *      ran at a stricter threshold than eval hygiene wants.)
    *   4. chunks joined with their embeddings (the co-bucketed join,
    *      plans shuffle-free), shipped as gzip JSONL under
    *      `outDir/split=train|val|test/` — ONE write pass, hive-style
    *      partition dirs, so a trainer reads its split by path; with
    *      `--pack=<tokens>` each row additionally carries `seq_no`
    *      (q66's bucketed running-sum packing, scoped per split), so
    *      the trainer groups rows into fixed-token-budget sequences.
    *
    * Counts ride the lineage as observations (quality drops are counted
    * by an observe BEFORE the keep filter — same pass, no second scan);
    * the returned manifest reports docs in/kept/dropped, per-split chunk
    * counts, and missing embeddings (counted, never silently dropped —
    * the [[runExport]] contract).
    */
  def runCurate(spark: SparkSession, storeDir: String, outDir: String,
                providerName: String, deconDir: Option[String] = None,
                embDeconDir: Option[String] = None,
                packBudget: Option[Int] = None,
                redact: Boolean = false,
                targetDir: Option[String] = None,
                gopherMinWords: Option[Int] = None,
                semDedup: Boolean = false): String = Pins.scope {
    import graft.dedup.Dedup
    val docs = openTable(spark, storeDir, "documents")
      .filter(!col("status").isin(Schemas.DocumentStatus.Dead: _*))
    val text = Ingest.convertDocuments(docs).filter(col("text").isNotNull)

    // doc-level tier: quality gate + cluster split — doc-count-sized
    val gated = graft.text.Curation.adaptiveQualityFilter(
        text, "doc_id", "text", "content_type")
    val sigFile = new java.io.File(s"$storeDir/signatures.parquet")
    val comps =
      if (sigFile.exists())
        Dedup.dupClustersFromSigs(docs.select(col("doc_id")), "doc_id",
                                  spark.read.parquet(sigFile.toString))
      else docs.select(col("doc_id"), col("doc_id").as("comp"))
    // optional benchmark scrub: corpus ids sharing ≥2 winnowing
    // fingerprints with any benchmark doc (contaminationPairs over the
    // corpus∪bench union, split-labeled by side)
    val contaminatedIds = deconDir.map { bd =>
      val bench = Ingest.convertDocuments(
          Ingest.toDocuments(Ingest.readBinaryDir(spark, bd)))
        .filter(col("text").isNotNull)
      val u = text.select(col("doc_id"), col("text"), lit("train").as("side"))
        .unionByName(bench.select(col("doc_id"), col("text"),
                                  lit("test").as("side")))
      Dedup.contaminationPairs(u, "doc_id", "text", col("side"))
        .select(col("train_id").as("doc_id")).distinct()
        .withColumn("contaminated", lit(true))
    }
    // optional SEMANTIC scrub (q149 as a product stage): the benchmark
    // dir is chunked+embedded under the INDEX's provider, both sides
    // assign to the sidecar's trained coarse cells (the learned
    // blocking — the ANN quantizer doubles as the decon blocking key),
    // and any doc with a chunk at cos ≥ 0.9 of a benchmark chunk
    // drops — the paraphrase tier the winnowing scan cannot see.
    val semContaminatedIds = embDeconDir.map { bd =>
      import graft.search.{Ann, VectorIndex}
      require(VectorIndex.exists(storeDir),
        "curate --embdecon needs a vector index (run `Main index` first) — " +
        "its trained quantizer is the blocking key")
      val meta = VectorIndex.readMeta(VectorIndex.indexPath(storeDir))
      val bench = Ingest.convertDocuments(
          Ingest.toDocuments(Ingest.readBinaryDir(spark, bd)))
        .filter(col("text").isNotNull)
      val benchChunks = Chunkers.chunkDocuments(
          bench.select(col("doc_id"), col("text")), "doc_id", "text",
          ChunkerConfig(chunkSize = 200, chunkOverlap = 20,
                        strategy = Strategy.Hybrid))
        .withColumn("chunk_id", concat(col("doc_id"), lit("_"), col("chunk_id")))
      val benchEmb = Embedding.embedChunks(benchChunks, meta.provider).toDF()
        .select(col("chunk_id"), col("embedding"))
      val corpusEmb = openTable(spark, storeDir, "embeddings")
        .filter(col("embedding_provider") === meta.provider)
        .select(col("chunk_id"), col("embedding"))
      Dedup.embeddingDecontaminate(
          Ann.ivfAssignInt(corpusEmb, "embedding", meta.centroids),
          Ann.ivfAssignInt(benchEmb, "embedding", meta.centroids),
          "chunk_id", "embedding", "cell",
          thresholdNum = 81, thresholdDen = 100)
        // store chunk ids are `<64-hex doc_id>_<n>`
        .select(substring(col("doc_id"), 1, 64).as("doc_id")).distinct()
        .withColumn("sem_contaminated", lit(true))
    }
    // optional within-corpus SEMANTIC dedup (--semdedup — q167's
    // SemDeDup as a product stage): chunk embeddings assign to the
    // index's trained coarse cells, within-cell chunk pairs at
    // cos ≥ 0.9 project to DOC edges, and connected components label
    // the semantic groups. The survivor per group is chosen below,
    // once quality scores exist: the best-quality member still passing
    // every other gate (q160's keep-best posture — the curate tier has
    // a quality score, so "least-central chunk" would waste it), ties
    // ascending doc_id. Requires `Main index`, same as --embdecon.
    val semComps = if (!semDedup) None else Some {
      import graft.search.{Ann, VectorIndex}
      require(VectorIndex.exists(storeDir),
        "curate --semdedup needs a vector index (run `Main index` first) — " +
        "its trained quantizer is the blocking key")
      val meta = VectorIndex.readMeta(VectorIndex.indexPath(storeDir))
      val corpusEmb = openTable(spark, storeDir, "embeddings")
        .filter(col("embedding_provider") === meta.provider)
        .select(col("chunk_id"), col("embedding"))
      val docEdges = Dedup.embeddingNearDupPairs(
          Ann.ivfAssignInt(corpusEmb, "embedding", meta.centroids),
          "chunk_id", "embedding", "cell",
          thresholdNum = 81, thresholdDen = 100)
        // store chunk ids are `<64-hex doc_id>_<n>`; same-doc chunk
        // pairs are not edges
        .select(substring(col("a_id"), 1, 64).as("a_id"),
                substring(col("b_id"), 1, 64).as("b_id"))
        .filter(col("a_id") =!= col("b_id"))
        .distinct()
      Dedup.dupClusters(docs.select(col("doc_id")), "doc_id",
                        docEdges, "a_id", "b_id")
        .withColumnRenamed("comp", "sem_comp")
    }
    val flagged0 = gated.join(comps, Seq("doc_id"))
      .withColumn("split", Dedup.splitAssign(col("comp")))
    val flagged1 = contaminatedIds.fold(
        flagged0.withColumn("contaminated", lit(false)))(c =>
      flagged0.join(c, Seq("doc_id"), "left")
        .withColumn("contaminated", coalesce(col("contaminated"), lit(false))))
    val flagged2 = semContaminatedIds.fold(
        flagged1.withColumn("sem_contaminated", lit(false)))(c =>
      flagged1.join(c, Seq("doc_id"), "left")
        .withColumn("sem_contaminated",
                    coalesce(col("sem_contaminated"), lit(false))))
    // optional DSIR-style target-domain selection (q155 as a product
    // stage): the target dir is read/converted exactly like an ingest
    // upload (ids prefixed — a target doc byte-equal to a store doc
    // must not merge with it), both sides feed ONE hashed-feature
    // count, and a store doc survives iff its linearized importance
    // weight is positive — i.e. its token mass leans target, not rest.
    val relevantIds = targetDir.map { td =>
      val tgt = Ingest.convertDocuments(
          Ingest.toDocuments(Ingest.readBinaryDir(spark, td)))
        .filter(col("text").isNotNull)
      // loud guard, same posture as --embdecon's: an empty target side
      // makes every weight 0 and would silently mark the WHOLE corpus
      // irrelevant (score > 0 never holds)
      require(!tgt.isEmpty,
        s"curate --target: no convertible documents in $td — an empty " +
        "target would drop the entire corpus")
      val u = text.select(col("doc_id"), col("text"),
                          lit(false).as("is_tgt"))
        .unionByName(tgt.select(concat(lit("tgt_"), col("doc_id")).as("doc_id"),
                                col("text"), lit(true).as("is_tgt")))
      graft.text.Curation.domainRelevanceWeights(
          u, "doc_id", "text", col("is_tgt"))
        .filter(!col("doc_id").startsWith("tgt_") && col("score") > 0)
        .select(col("doc_id")).withColumn("relevant", lit(true))
    }
    val flagged3 = relevantIds.fold(
        flagged2.withColumn("relevant", lit(true)))(r =>
      flagged2.join(r, Seq("doc_id"), "left")
        .withColumn("relevant", coalesce(col("relevant"), lit(false))))
    // optional Gopher rule bundle (q157 as a product stage): the named
    // heuristic battery over the converted text, minWords caller-set
    val flagged4 = gopherMinWords.fold(
        flagged3.withColumn("gopher_ok", lit(true)))(mw =>
      flagged3.join(
        graft.text.TextStats.gopherRules(text, "doc_id", "text",
                                         minWords = mw)
          .select(col("doc_id"), col("kept").as("gopher_ok")),
        Seq("doc_id"), "left")
        .withColumn("gopher_ok", coalesce(col("gopher_ok"), lit(false))))
    val otherPass = col("kept") && !col("contaminated") &&
      !col("sem_contaminated") && col("relevant") && col("gopher_ok")
    // semantic keep-one: survivor per sem_comp = the best-quality
    // member still passing every other gate (otherPass sorts first so
    // a contaminated top-scorer never uses up the group's slot), ties
    // ascending doc_id. Singletons are trivially their own survivor.
    val flagged = semComps.fold(
        flagged4.withColumn("sem_keeper", lit(true))) { sc =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("sem_comp"))
        .orderBy(otherPass.desc, col("score").desc, col("doc_id").asc)
      flagged4.join(sc, Seq("doc_id"))
        .withColumn("sem_keeper", row_number().over(w) === 1)
        .drop("sem_comp")
    }
    val allPass = otherPass && col("sem_keeper")
    val obsDocs = new Observation("curate_docs")
    val curated = flagged
      .observe(obsDocs,
        count(lit(1)).as("docs_in"),
        count(when(allPass, 1)).as("docs_kept"),
        count(when(col("kept") && col("contaminated"), 1)).as("n_contaminated"),
        count(when(col("kept") && !col("contaminated") &&
                   col("sem_contaminated"), 1)).as("n_semantic"),
        count(when(col("kept") && !col("contaminated") &&
                   !col("sem_contaminated") && !col("relevant"), 1))
          .as("n_irrelevant"),
        count(when(col("kept") && !col("contaminated") &&
                   !col("sem_contaminated") && col("relevant") &&
                   !col("gopher_ok"), 1)).as("n_gopher"),
        count(when(otherPass && !col("sem_keeper"), 1)).as("n_semdup"))
      .filter(allPass)
      .select(col("doc_id"), col("score"), col("split"))

    // chunk-level tier: the export join, tagged with split + score;
    // token counts under the store's tokenizer tier (trained merges
    // when `Main tokenizer` has run). The curation join runs FIRST so
    // the tokenizer only pays its merge folds for chunks that actually
    // export — a heavy quality/decon drop would otherwise tokenize a
    // corpus it then throws away.
    val keptChunks = openTable(spark, storeDir, "chunks")
      .select(col("doc_id"), col("chunk_id"), col("content"))
      .join(curated, Seq("doc_id"))
    // optional PII scrub (--redact): emails/URLs/IPs replaced with
    // placeholder tokens BEFORE token counting, so a --pack budget
    // measures the text the trainer actually sees; per-category match
    // counts ride the export observation into the manifest/runlog
    val redacted =
      if (redact)
        graft.text.TextStats.redactPii(keptChunks, "content")
          .drop("content").withColumnRenamed("redacted", "content")
      else keptChunks
    val (chunks, tokenizerName) = withTokenCounts(spark, storeDir, redacted)
    val emb = openTable(spark, storeDir, "embeddings")
      .filter(col("embedding_provider") === providerName)
      .select(col("chunk_id"), col("embedding"))
    val obsChunks = new Observation("curate_chunks")
    val chunkAggs = Seq(
        count(when(col("split") === "train" && col("embedding").isNotNull, 1)).as("train"),
        count(when(col("split") === "val" && col("embedding").isNotNull, 1)).as("val"),
        count(when(col("split") === "test" && col("embedding").isNotNull, 1)).as("test"),
        count(when(col("embedding").isNull, 1)).as("n_missing")) ++
      (if (redact)
         // counted over rows that EXPORT (embedding present) — the
         // manifest must describe the text the trainer receives, not
         // chunks the missing-embedding filter then drops
         Seq(sum(when(col("embedding").isNotNull, col("n_email"))
               .otherwise(0L)).as("pii_email"),
             sum(when(col("embedding").isNotNull, col("n_url"))
               .otherwise(0L)).as("pii_url"),
             sum(when(col("embedding").isNotNull, col("n_ip"))
               .otherwise(0L)).as("pii_ip"))
       else Nil)
    val rows = chunks
      .join(emb, Seq("chunk_id"), "left")
      .observe(obsChunks, chunkAggs.head, chunkAggs.tail: _*)
      .filter(col("embedding").isNotNull)
      .drop("n_email", "n_url", "n_ip")
    // optional sequence packing (q66's algebra, scoped per split —
    // a sequence must never straddle splits): chunks hash into
    // buckets, a per-(split,bucket) running token sum assigns
    // `seq_no`, and the trainer groups rows by (split, seq_no) into
    // fixed-budget training sequences. No global sort; reproducible
    // across cluster sizes.
    val packed = packBudget.fold(rows) { budget =>
      val buckets = 32
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("split"), col("bucket")).orderBy(col("chunk_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      rows
        .withColumn("bucket",
          graft.dedup.Dedup.hashBucket(col("chunk_id"), buckets))
        .withColumn("cum_before",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("seq_no",
          col("bucket") * lit(1L << 20) +
            expr(s"cum_before div CAST($budget AS BIGINT)"))
        .drop("bucket", "cum_before")
    }
    packed.write.mode(SaveMode.Overwrite).partitionBy("split")
      .option("compression", "gzip").json(outDir)

    // empty written frame → CollectMetrics erased → empty metrics map
    // (same guard as runIngest); report 0, don't throw
    val md = obsDocs.get; val mc = obsChunks.get
    def g(m: Map[String, Any], k: String) = m.getOrElse(k, 0L).toString.toLong
    val in = g(md, "docs_in"); val kept = g(md, "docs_kept")
    val contam = g(md, "n_contaminated"); val sem = g(md, "n_semantic")
    val irrel = g(md, "n_irrelevant"); val goph = g(md, "n_gopher")
    val semdup = g(md, "n_semdup")
    // observed like ingest: the manifest rides into the runlog table,
    // so the curation funnel is auditable beside the ingest metrics
    val optLog =
      (if (redact) Seq("pii_email" -> g(mc, "pii_email"),
                       "pii_url" -> g(mc, "pii_url"),
                       "pii_ip" -> g(mc, "pii_ip"))
       else Nil) ++
      (if (targetDir.isDefined) Seq("dropped_irrelevant" -> irrel) else Nil) ++
      (if (gopherMinWords.isDefined) Seq("dropped_gopher" -> goph) else Nil) ++
      (if (semDedup) Seq("dropped_semdup" -> semdup) else Nil)
    val droppedQuality = in - kept - contam - sem - irrel - goph - semdup
    appendRunlog(spark, storeDir, "curate", Seq(
      "docs_in" -> in, "docs_kept" -> kept,
      "dropped_quality" -> droppedQuality,
      "dropped_contaminated" -> contam, "dropped_semantic" -> sem,
      "train" -> g(mc, "train"), "val" -> g(mc, "val"),
      "test" -> g(mc, "test"), "missing_embedding" -> g(mc, "n_missing"))
      ++ optLog)
    s"""{"docs_in":$in,"docs_kept":$kept,""" +
      s""""dropped_quality":$droppedQuality,""" +
      s""""dropped_contaminated":$contam,""" +
      s""""dropped_semantic":$sem,""" +
      s""""train":${g(mc, "train")},"val":${g(mc, "val")},""" +
      s""""test":${g(mc, "test")},"missing_embedding":${g(mc, "n_missing")},""" +
      optLog.map { case (k, v) => s""""$k":$v,""" }.mkString +
      s""""tokenizer":"$tokenizerName"}"""
  }


  /** Escape a string for embedding in a JSON literal: backslash,
    * quote, and ALL control chars (a chunk's newlines would otherwise
    * break the one-JSON-object-per-line output contract).
    */
  private[graft] def jsonEscape(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => b ++= "\\\\"
      case '"'  => b ++= "\\\""
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.toString
  }

  /** Append one product command's counters to the store's runlog —
    * the same (stage, metric, value, run_at) shape ingest writes, so
    * every command's funnel is auditable from one table.
    */
  private def appendRunlog(spark: SparkSession, storeDir: String,
                           stage: String, metrics: Seq[(String, Long)]): Unit = {
    import spark.implicits._
    appendRunlogFrame(storeDir,
      metrics.map { case (m, v) => (stage, m, v.toDouble) }
        .toDF("stage", "metric", "value")
        .withColumn("run_at", current_timestamp()))
  }

  /** Every runlog append — ingest's and the product commands' — takes
    * the same table lease `Tables.compact` rewrites under: an unlocked
    * append racing a compact either recreates the directory mid-swap
    * (stranding the live table in `.trash`) or lands its rows in the
    * aside copy the compact then deletes.
    */
  /** The lease-held inner append BOTH runlog writers share: trash
    * recovery (a compact that died mid-swap parked the only complete
    * runlog in .trash; appending first would recreate the dir and
    * orphan it), then the append. Callers hold the runlog lease —
    * one copy of the recovery invariant, two lock scopes
    * (withTableLock is deliberately non-reentrant).
    */
  private def appendRunlogLocked(path: String, frame: DataFrame): Unit = {
    Tables.recover(new java.io.File(path))
    frame.write.mode(SaveMode.Append).parquet(path)
  }

  private[graft] def appendRunlogFrame(storeDir: String, frame: DataFrame): Unit = {
    val path = s"$storeDir/runlog.parquet"
    Tables.withTableLock(path) {
      appendRunlogLocked(path, frame)
    }
  }

  /** [[appendRunlogFrame]] made IDEMPOTENT for streaming foreachBatch
    * emitters: Structured Streaming replays a micro-batch whose sink
    * work succeeded but whose checkpoint commit did not, so a plain
    * append would double-count that batch's rows after every such
    * restart. A marker file records the last appended batchId —
    * checked and advanced under the SAME runlog lease as the append,
    * written via tmp+checked-rename strictly AFTER the rows land (the
    * one remaining crash window — between append and marker — costs at
    * most one duplicated batch, never a lost one). Keep the marker
    * INSIDE the stream's checkpoint dir: batchIds restart from 0 when
    * a checkpoint is deleted, and a marker that outlived its
    * checkpoint would silently skip the fresh stream's batches.
    */
  private[graft] def appendRunlogFrameOnce(storeDir: String, frame: DataFrame,
                                           markerPath: String,
                                           batchId: Long): Unit = {
    val path = s"$storeDir/runlog.parquet"
    Tables.withTableLock(path) {
      val marker = new java.io.File(markerPath)
      val last =
        if (marker.isFile)
          scala.util.Try(new String(
            java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
            .trim.toLong).getOrElse(-1L)
        else -1L
      if (batchId > last) {
        appendRunlogLocked(path, frame)
        Option(marker.getParentFile).foreach(_.mkdirs())
        val tmp = new java.io.File(s"$markerPath.tmp")
        java.nio.file.Files.write(tmp.toPath,
          batchId.toString.getBytes("UTF-8"))
        // ATOMIC_MOVE replaces the marker in one step: a delete-then-
        // rename would open a second duplicate-append crash window (no
        // marker at all) beyond the documented append→marker gap
        java.nio.file.Files.move(tmp.toPath, marker.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  // ------------------------------------------------------------------ fsck

  /** `fsck <store>`: read-only store-invariants audit — the check a
    * 100 TB deployment runs after a crash, a migration, or on a
    * schedule, because "the swap commit keeps tables consistent" is a
    * claim worth VERIFYING, not assuming. Two classes of findings:
    *
    *  - VIOLATIONS — referential breaks between the tables one ingest
    *    commit lands together, which nothing self-heals: chunks without
    *    a document row, chunks/signatures surviving their doc's
    *    demotion, embeddings without a chunk, docs whose job ledger
    *    never reached a terminal state (or has no entry at all);
    *  - DRIFT (violation=false) — derived tiers that are ALLOWED to
    *    lag between batches because the next ingest reconciles them
    *    (the postings index and the vector index vs the store slice),
    *    plus coverage infos (chunks lacking an embedding for a stored
    *    provider, kept docs too short to carry signatures), plus
    *    STALE asides (live + `.trash` both present — a writer that
    *    crashed between commit and cleanup; `--repair` sweeps them).
    *
    * `snapshots = true` (`--snapshots`) additionally runs the same
    * audit at every snapshot root — the cron-able detector for
    * half-scrubbed history now that `--scrub-snapshots` rewrites
    * snapshots in place; each snapshot's lines carry a `"snapshot"`
    * field and its violations count toward the exit code. A snapshot
    * whose audit itself DIES (corrupt parquet footer, truncated file)
    * is counted as a `snapshot_audit_failed` violation for that name
    * and the walk continues — surfacing exactly such damage is the
    * detector's job, and crashing on the first broken root would
    * silently skip the rest of the history it was asked to check.
    *
    * Every check is one anti-join/aggregate over a pinned snapshot of
    * the tables (counts, never row collects); the audit itself never
    * writes. ONE convergence preamble runs first (the storedMerges
    * restore-from-trash convention, store-level): a non-empty
    * `.rollback_trash` means a snapshot restore died mid-flight and
    * may have left the live tree empty — [[graft.io.Snapshots.recover]]
    * rolls it forward (or parks back) under the `.store` lease before
    * anything is audited, and the action is reported as its own check
    * line. Returns (one JSON line per check, violation total) — the
    * CLI exits nonzero on violations so cron can page on it.
    */
  def runFsck(spark: SparkSession, storeDir: String,
              snapshots: Boolean = false): (Seq[String], Long) = {
    val converged = graft.io.Snapshots.recover(storeDir).map { action =>
      s"""{"check":"interrupted_restore_converged","count":1,"violation":false,"action":"$action"}"""
    }.toSeq
    val (liveLines, liveViol) = fsckRoot(spark, storeDir, tag = "")
    // `--snapshots`: the SAME audit at each snapshot root — a snapshot
    // is a complete store, and since `--scrub-snapshots` ended
    // snapshot immutability a crashed scrub can leave one
    // half-rewritten. Each snapshot's lines carry a "snapshot" field;
    // its violations count toward the exit code. This is the cron-able
    // detector for half-scrubbed history: a scrub killed inside a
    // snapshot's documents swap shows up here (table restored from
    // trash / stale aside / orphan tiers) BEFORE the operator re-runs
    // the delete that converges it.
    // one damaged snapshot must not kill the cron: a root whose audit
    // itself dies (corrupt parquet footer, truncated file) is COUNTED
    // as a violation for that snapshot and the walk continues — the
    // detector's whole job is surfacing exactly such damage, and an
    // audit that crashes on the first broken root silently skips the
    // rest of the history it was asked to check
    val snapResults =
      if (snapshots)
        graft.io.Snapshots.list(storeDir).map { name =>
          try fsckRoot(spark, s"$storeDir/.snapshots/$name",
                       tag = s""","snapshot":"${jsonEscape(name)}"""")
          catch {
            case scala.util.control.NonFatal(e) =>
              val why = jsonEscape(
                Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
              (Seq(s"""{"check":"snapshot_audit_failed","count":1,""" +
                s""""violation":true,"snapshot":"${jsonEscape(name)}",""" +
                s""""error":"$why"}"""), 1L)
          }
        }
      else Nil
    val nViol = liveViol + snapResults.map(_._2).sum
    (converged ++ liveLines ++ snapResults.flatMap(_._1) :+
       s"""{"violations":$nViol}""", nViol)
  }

  /** One root's worth of [[runFsck]] checks (the live store, or — for
    * `--snapshots` — each snapshot root, which is a complete store).
    * `tag` is appended verbatim inside every emitted JSON line.
    * Returns (lines, violation count); the caller owns the
    * `{"violations":N}` trailer.
    */
  private def fsckRoot(spark: SparkSession, storeDir: String,
                       tag: String): (Seq[String], Long) = {
    import graft.search.VectorIndex
    val converged = {
      // table-level twin of the writer preamble: a writeTable that died
      // between aside-rename and commit parked the only complete copy
      // in <table>.parquet.trash — the next WRITE would heal it, but an
      // audit (or any read) arriving first must not report a
      // missing-table violation over a recoverable crash state
      Option(new java.io.File(storeDir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet.trash")).sortBy(_.getName)
        .flatMap { trash =>
          val live = new java.io.File(
            storeDir, trash.getName.stripSuffix(".trash"))
          val restored = !live.exists() && Tables.withTableLock(live.toString) {
            !live.exists() && Tables.recover(live)
          }
          if (!restored) None
          else Some(s"""{"check":"table_restored_from_trash","count":1,""" +
            s""""violation":false,"table":"${live.getName}"$tag}""")
        }.toSeq
    } ++ {
      // STALE asides — live AND trash both present, a writer that
      // crashed between its commit rename and the trailing cleanup.
      // The live copy is the committed one, so this is DRIFT, not a
      // violation — but the trash retains superseded bytes (on a
      // delete path, pre-delete content) until something sweeps it.
      // The delete/scrub preambles sweep their own tables; a crashed
      // NON-delete writer's aside waits for `fsck --repair`, which
      // sweeps exactly these (the audit itself only counts). A pair
      // whose table lease is LIVE is a healthy writer sitting in its
      // commit window, not crash residue — skipped, or a lock-free
      // audit racing a big ingest would report phantom drift (the
      // repair side needs no such gate: sweepStaleTrash re-checks
      // under the lease it must first win from any in-flight writer).
      listAsidePairs(storeDir)
        .filterNot(name => leaseIsLive(s"$storeDir/$name"))
        .map { name =>
          s"""{"check":"stale_aside","count":1,"violation":false,""" +
            s""""table":"$name"$tag}"""
        }
    }
    def tbl(name: String): Option[DataFrame] = {
      val f = new java.io.File(s"$storeDir/$name.parquet")
      if (f.exists()) Some(spark.read.parquet(f.toString)) else None
    }
    val docsOpt = tbl("documents")
    if (docsOpt.isEmpty)
      return (converged :+
        s"""{"check":"documents_table_present","count":1,"violation":true$tag}""", 1L)
    // pin one snapshot per table — EVERY table the audit reads, not
    // just the big three: each feeds several checks, the audit must
    // judge a single consistent state of the store, and fsck takes no
    // lock (it runs concurrent with ingest by design), so a lazy read
    // would re-list the parquet dir at action time and die (or judge a
    // mixed state) when an ingest swap lands mid-audit
    Pins.scope {
      val docs = pin(docsOpt.get)
      val chunksOpt = tbl("chunks").map(pin(_))
      val embOpt = tbl("embeddings").map(pin(_))
      val sigsOpt = tbl("signatures").map(pin(_))
      val jobsOpt = tbl("jobs").map(pin(_))
      // derived-tier snapshots are pinned ONLY when the partner table
      // their checks join against exists — otherwise the checks are
      // skipped and the pin would be pure wasted executor memory
      val postingsF = new java.io.File(s"$storeDir/postings.idx")
      val postingsOpt =
        if (chunksOpt.isDefined && postingsF.exists())
          Some(pin(spark.read.parquet(postingsF.toString).select(col("chunk_id"))))
        else None
      val vecOpt =
        if (embOpt.isDefined && VectorIndex.exists(storeDir)) {
          val vecPath = VectorIndex.indexPath(storeDir)
          val idx =
            if (VectorIndex.hasCells(vecPath))
              Some(pin(spark.read.parquet(vecPath).select(col("chunk_id"))))
            else None
          Some((VectorIndex.readMeta(vecPath).provider, idx))
        } else None
      val checks = scala.collection.mutable.ArrayBuffer[(String, Long, Boolean)]()
      val docIds = docs.select(col("doc_id"))
      val deadIds = docs.filter(col("status").isin(Schemas.DocumentStatus.Dead: _*))
        .select(col("doc_id"))

      chunksOpt.foreach { chunks =>
        checks += (("chunks_orphaned",
          chunks.join(docIds, Seq("doc_id"), "left_anti").count(), true))
        checks += (("chunks_of_dead_docs",
          chunks.join(deadIds, Seq("doc_id"), "left_semi").count(), true))
      }
      for (emb <- embOpt; chunks <- chunksOpt) {
        checks += (("embeddings_orphaned",
          emb.join(chunks.select(col("chunk_id")), Seq("chunk_id"), "left_anti")
            .count(), true))
        // coverage info: (provider, chunk) pairs a stored provider is
        // missing — runExport's "missing" count, audited at rest
        // (counted arithmetically: ¦chunks¦·¦providers¦ − present pairs
        // on live chunks — no cross join materialized)
        val nProviders = emb.select(col("embedding_provider")).distinct().count()
        val present = emb.select(col("chunk_id"), col("embedding_provider"))
          .distinct()
          .join(chunks.select(col("chunk_id")), Seq("chunk_id"), "left_semi")
          .count()
        checks += (("chunks_without_embedding",
          chunks.count() * nProviders - present, false))
      }
      sigsOpt.foreach { sigs =>
        checks += (("signatures_orphaned",
          sigs.join(docIds, sigs("doc") === docIds("doc_id"), "left_anti")
            .count(), true))
        checks += (("signatures_of_dead_docs",
          sigs.join(deadIds, sigs("doc") === deadIds("doc_id"), "left_semi")
            .count(), true))
        // info: kept docs carrying no signatures — legitimate for docs
        // too short to shingle, so never a violation
        checks += (("docs_without_signatures",
          docs.filter(!col("status").isin(Schemas.DocumentStatus.Dead: _*))
            .select(col("doc_id"))
            .join(sigs.select(sigs("doc").as("doc_id")).distinct(),
                  Seq("doc_id"), "left_anti").count(), false))
      }
      jobsOpt.foreach { jobs =>
        val latest = Tables.latestByKey(jobs, Seq("job_id"),
                                        Seq(col("updated_at")))
        checks += (("jobs_nonterminal",
          latest.filter(!col("status").isin(
            JobStatus.Completed, JobStatus.Failed, JobStatus.Cancelled))
            .count(), true))
        checks += (("jobs_missing",
          docIds.join(latest.select(col("job_id").as("doc_id")),
                      Seq("doc_id"), "left_anti").count(), true))
      }
      // derived tiers: allowed to lag (the next ingest reconciles) —
      // reported as drift, never as violations
      for (chunks <- chunksOpt; postings <- postingsOpt) {
        checks += (("postings_orphaned",
          postings.distinct()
            .join(chunks.select(col("chunk_id")), Seq("chunk_id"), "left_anti")
            .count(), false))
      }
      for (emb <- embOpt; (provider, idxOpt) <- vecOpt) {
        val slice = emb
          .filter(col("embedding_provider") === provider)
          .select(col("chunk_id"))
        idxOpt match {
          case Some(idx) =>
            checks += (("vector_index_stale",
              idx.join(slice, Seq("chunk_id"), "left_anti").count(), false))
            checks += (("vector_index_missing",
              slice.join(idx, Seq("chunk_id"), "left_anti").count(), false))
          case None =>
            checks += (("vector_index_missing", slice.count(), false))
        }
      }
      val lines = checks.toSeq.map { case (name, n, viol) =>
        s"""{"check":"$name","count":$n,"violation":$viol$tag}"""
      }
      val nViol = checks.collect { case (_, n, true) => n }.sum
      (converged ++ lines, nViol)
    }
  }

  // ------------------------------------------------------------- fsck repair

  /** `fsck <store> --repair`: prune the [[runFsck]] VIOLATIONS — and
    * only those. Repair deletes unreachable rows (chunks without a
    * live document, embeddings without a chunk, signatures of dead or
    * missing docs); it NEVER fabricates history, so job-ledger
    * violations stay reported, not patched. Each table lands with the
    * store's aside-rename swap under the writer lease; the derived
    * tiers are untouched — a prune widens their drift and the next
    * ingest reconcile heals it, exactly the contract fsck documents.
    * Also sweeps STALE asides (live + `.trash` both present — the
    * audit's `stale_aside` drift): the live copy is the committed
    * one, so the superseded trash bytes (on a delete path,
    * pre-delete content) are removed under each table lease. With
    * `snapshots = true` the stale-aside sweep ONLY also runs at each
    * snapshot root — snapshot trash is always scrub-crash residue
    * (create() never captures trash), never snapshot content, and
    * row pruning at a snapshot root stays the scrub transaction's
    * job. Returns per-table pruned/swept counts; re-run `fsck` after
    * to confirm.
    */
  def runFsckRepair(spark: SparkSession, storeDir: String,
                    snapshots: Boolean = false): Seq[String] =
    // multi-table writer: same store-level transaction lease as the
    // ingest commit (see ingestBatch) so a snapshot never captures a
    // half-repaired cross-table state — and, for the snapshot sweep,
    // so a concurrent snapshot restore/drop (which takes it) is
    // excluded while crash residue is removed from a snapshot root
    Tables.withTableLock(s"$storeDir/.store") {
      val live = runFsckRepairInner(spark, storeDir)
      val snapLines =
        if (snapshots)
          graft.io.Snapshots.list(storeDir).flatMap { name =>
            sweepStaleAsides(s"$storeDir/.snapshots/$name").map(t =>
              s"""{"table":"$t","stale_aside_swept":true,""" +
                s""""snapshot":"${jsonEscape(name)}"}""")
          }
        else Nil
      live ++ snapLines
    }

  /** Live-entry names with BOTH a live copy and a `.trash` aside
    * directly under `root` — the one definition of a stale-aside
    * candidate, shared by the audit (which additionally skips pairs
    * whose table lease is live) and the repair sweep.
    */
  private def listAsidePairs(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".trash") &&
        new java.io.File(root, f.getName.stripSuffix(".trash")).exists())
      .map(_.getName.stripSuffix(".trash")).sorted.toSeq

  /** Whether `path`'s table lease is held by a LIVE writer (lock file
    * present and fresher than the default staleness horizon) — the
    * lock-free way to tell an in-flight swap's commit window from a
    * crashed writer's residue, per the [[Tables.withTableLock]]
    * convention (a crashed holder's lease goes stale; a live one
    * heartbeats or finishes).
    */
  private def leaseIsLive(path: String): Boolean = {
    val lock = new java.io.File(s"$path.lock")
    lock.exists() && lock.lastModified() > 0 &&
      System.currentTimeMillis() - lock.lastModified() <= Tables.DefaultStaleMs
  }

  /** Sweep every stale aside (live + `.trash` both present) directly
    * under `root`, returning the swept live names. [[Tables.sweepStaleTrash]]
    * double-checks under the table lease, so an in-flight swap —
    * which holds it — is never raced.
    */
  private def sweepStaleAsides(root: String): Seq[String] =
    listAsidePairs(root).map { name =>
      Tables.sweepStaleTrash(s"$root/$name")
      name
    }

  private def runFsckRepairInner(spark: SparkSession,
                                 storeDir: String): Seq[String] = Pins.scope {
    def tblFile(name: String) = new java.io.File(s"$storeDir/$name.parquet")
    // writeTable's commit, not delete-then-rename: a crash at any point
    // leaves a complete snapshot, and the co-bucketed pair keeps its
    // layout (a plain rewrite would demote J1/J3 to shuffle joins)
    def swapRewrite(name: String, keep: DataFrame): Unit =
      Tables.swap(tblFile(name), "fsckRepair")(writeStoreTable(keep, name, _))
    // the repair tool is what a user runs after a crash: restore any
    // table a died swap (an earlier repair's included) left parked in
    // .trash before auditing
    for (name <- Seq("documents", "chunks", "embeddings", "signatures",
                     "tokenizer", "runlog"))
      Tables.restoreFromTrash(tblFile(name).toString)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    // stale-aside sweep (the audit's `stale_aside` drift → zero):
    // restore-from-trash above handled the live-missing case; what
    // remains in .trash beside a live table is a superseded copy a
    // crashed writer never cleaned up — swept here so an erasure's
    // bytes don't outlive the committed delete in a trash dir
    out ++= sweepStaleAsides(storeDir).map(t =>
      s"""{"table":"$t","stale_aside_swept":true}""")
    val docs = spark.read.parquet(tblFile("documents").toString)
    val liveIds = pin(docs.filter(!col("status").isin(Schemas.DocumentStatus.Dead: _*))
      .select(col("doc_id")))
    if (tblFile("chunks").exists()) Tables.withTableLock(tblFile("chunks").toString) {
      val chunks = spark.read.parquet(tblFile("chunks").toString)
      val keep = pin(chunks.join(liveIds, Seq("doc_id"), "left_semi"))
      val pruned = chunks.count() - keep.count()
      if (pruned > 0) swapRewrite("chunks", keep)
      out += s"""{"table":"chunks","pruned":$pruned}"""
    }
    if (tblFile("embeddings").exists() && tblFile("chunks").exists())
      Tables.withTableLock(tblFile("embeddings").toString) {
        val emb = spark.read.parquet(tblFile("embeddings").toString)
        val liveChunks = spark.read.parquet(tblFile("chunks").toString)
          .select(col("chunk_id"))
        val keep = pin(emb.join(liveChunks, Seq("chunk_id"), "left_semi"))
        val pruned = emb.count() - keep.count()
        if (pruned > 0) swapRewrite("embeddings", keep)
        out += s"""{"table":"embeddings","pruned":$pruned}"""
      }
    if (tblFile("signatures").exists()) Tables.withTableLock(tblFile("signatures").toString) {
      val sigs = spark.read.parquet(tblFile("signatures").toString)
      val keep = pin(sigs.join(liveIds, sigs("doc") === liveIds("doc_id"),
                               "left_semi"))
      val pruned = sigs.count() - keep.count()
      if (pruned > 0) swapRewrite("signatures", keep)
      out += s"""{"table":"signatures","pruned":$pruned}"""
    }
    out.toSeq
  }

  // ------------------------------------------------------------------ compact

  /** `compact <store> [targetBytes]`: small-files maintenance over
    * every store artifact that fragments — the ops pass a 100 TB
    * deployment schedules, because each tiny file is a task + a
    * namenode entry and gzip shards cap read parallelism. Plain
    * swap-commit tables compact via [[Tables.compact]]; the postings
    * and vector indexes compact per PARTITION (term bucket / cell)
    * via [[Tables.compactPartitions]] under their writer lease, so
    * untouched partitions keep their exact files and probes stay
    * pruned. The co-bucketed chunks/embeddings tables are skipped by
    * design: their upsert writer already lands one file per bucket on
    * every commit, so they never fragment.
    */
  def runCompact(spark: SparkSession, storeDir: String,
                 targetBytes: Long = 128L << 20): Seq[String] = {
    import graft.search.VectorIndex
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def report(name: String, before: Int, after: Int): Unit =
      out += s"""{"table":"$name","files_before":$before,"files_after":$after}"""
    for (name <- Seq("documents", "jobs", "signatures", "runlog",
                     "search_cache")) {
      val f = new java.io.File(s"$storeDir/$name.parquet")
      if (f.exists()) {
        val (b, a) = Tables.compact(spark, f.toString, targetBytes)
        report(name, b, a)
      }
    }
    val postings = new java.io.File(s"$storeDir/postings.idx")
    if (postings.exists()) {
      val (b, a) = Tables.withTableLock(postings.toString) {
        Tables.compactPartitions(spark, postings.toString, "tb", targetBytes)
      }
      report("postings.idx", b, a)
    }
    if (VectorIndex.exists(storeDir)) {
      val p = VectorIndex.indexPath(storeDir)
      val (b, a) = Tables.withTableLock(p) {
        Tables.compactPartitions(spark, p, "cell", targetBytes)
      }
      report("vector.idx", b, a)
    }
    out.toSeq
  }

  // ------------------------------------------------------------------ status

  /** `status <docId>`: current job state + stored document status
    * (`api/routes/documents.py:59-71`). */
  def runStatus(spark: SparkSession, storeDir: String, docId: String): Seq[String] = {
    val job = JobLedger.status(spark.read.parquet(s"$storeDir/jobs.parquet"), docId)
      .collect().map(r =>
        s"""{"job_id":"${r.getString(0)}","status":"${r.getString(2)}",""" +
        s""""progress":${r.getDouble(3)}}""").toSeq
    val doc = Tables.pointLookup(
        spark.read.parquet(s"$storeDir/documents.parquet"), "doc_id", docId)
      .collect().map(r =>
        s"""{"doc_id":"$docId","doc_status":"${r.getAs[String]("status")}"}""").toSeq
    job ++ doc
  }

  /** `get <store> <docId>`: the reference's `GET /documents/{doc_id}`
    * — the document row plus its chunks in order, reassembled over the
    * co-bucketed store (J3 — plans without a shuffle). Fails loudly on
    * an unknown id: an empty 200 is the API bug the reference's 404
    * exists to prevent.
    */
  def runGet(spark: SparkSession, storeDir: String, docId: String): Seq[String] = {
    val doc = Tables.pointLookup(
        openTable(spark, storeDir, "documents"), "doc_id", docId)
      .collect().map { r =>
        s"""{"doc_id":"$docId","filename":"${jsonEscape(r.getAs[String]("filename"))}",""" +
        s""""content_type":"${r.getAs[String]("content_type")}",""" +
        s""""status":"${r.getAs[String]("status")}"}"""
      }.toSeq
    require(doc.nonEmpty, s"no document $docId in $storeDir")
    val chunks = openTable(spark, storeDir, "chunks")
      .filter(col("doc_id") === docId)
      .orderBy(col("chunk_number"))
      .collect().map { r =>
        s"""{"chunk_id":"${r.getAs[String]("chunk_id")}",""" +
        s""""chunk_number":${r.getAs[Int]("chunk_number")},""" +
        s""""total_chunks":${r.getAs[Int]("total_chunks")},""" +
        s""""content":"${jsonEscape(r.getAs[String]("content"))}"}"""
      }.toSeq
    doc ++ chunks
  }

  /** `embeddings <store> <docId> [provider]`: the reference's
    * `GET /documents/{doc_id}/generate-embeddings` read side — the
    * doc's stored chunk embeddings (chunk, provider, model, dims; the
    * vector itself stays in the store — a CLI that prints 768 floats
    * per chunk is a pager, not an API). The chunk⋈embedding join runs
    * over the co-bucketed pair, shuffle-free.
    */
  def runGetEmbeddings(spark: SparkSession, storeDir: String, docId: String,
                       provider: Option[String]): Seq[String] = {
    // same 404 contract as runGet: an unknown id fails loudly — an
    // empty list must mean "no embeddings stored", never "typo'd id"
    require(Tables.pointLookup(openTable(spark, storeDir, "documents"),
                               "doc_id", docId).count() > 0,
      s"no document $docId in $storeDir")
    val chunks = openTable(spark, storeDir, "chunks")
      .filter(col("doc_id") === docId)
      .select(col("chunk_id"), col("chunk_number"))
    val emb = provider.foldLeft(openTable(spark, storeDir, "embeddings"))(
      (e, p) => e.filter(col("embedding_provider") === p))
    chunks.join(emb, Seq("chunk_id"))
      .select(col("chunk_id"), col("chunk_number"),
              col("embedding_provider"), col("model"),
              size(col("embedding")).as("dims"))
      .orderBy(col("chunk_number"), col("embedding_provider"))
      .collect().map { r =>
        s"""{"chunk_id":"${r.getAs[String]("chunk_id")}",""" +
        s""""chunk_number":${r.getAs[Int]("chunk_number")},""" +
        s""""provider":"${r.getAs[String]("embedding_provider")}",""" +
        s""""model":"${r.getAs[String]("model")}","dims":${r.getAs[Int]("dims")}}"""
      }.toSeq
  }

  // ------------------------------------------------------------ search cache

  /** Drop cached search rows — keyed to one provider (`Some(p)`: the
    * reference's pattern-scoped SCAN+DELETE), or ALL rows (`None`:
    * after a demotion commit, which prunes every provider's embeddings
    * of the demoted docs). The anti-join keyed delete
    * ([[Search.invalidateCache]]) over the persisted cache table,
    * landed with a swap rename (the cache is derived data; a crash
    * between renames merely re-misses).
    */
  private def invalidateSearchCache(spark: SparkSession, storeDir: String,
                                    provider: Option[String]): Unit = {
    val f = new java.io.File(s"$storeDir/search_cache.parquet")
    if (!f.exists()) return
    val cache = spark.read.parquet(f.toString)
    val invalid = provider.fold(cache) { p =>
      cache.filter(col("embedding_provider") === p)
    }.select(col("cache_key"))
    val tmp = new java.io.File(s"$storeDir/search_cache.parquet.next")
    Tables.rmTree(tmp)
    Search.invalidateCache(cache, invalid)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // delete-then-rename, not Tables.swap: a parked cache aside is one
    // fsck's trash restore would bring back, and knn_cached would then
    // serve the stale rows this invalidation dropped
    Tables.rmTree(f)
    require(tmp.renameTo(f), "search-cache invalidation swap failed")
  }

  /** The search cache's fixed schema: a re-open reads it as given and
    * infers nothing. Built rather than parsed from DDL: that parse ran
    * when `Main` initialized, inside the first command's time.
    */
  private val SearchCacheSchema = StructType(
    Seq("cache_key", "embedding_provider", "chunk_id").map(StructField(_, StringType)) :+
      StructField("score", DoubleType))

  /** [[runSearch]] behind the Q4 cache tier: the deterministic key is
    * computed on the driver ([[Search.cacheKeyOf]]), the persisted
    * cache is probed by one collect of the key's rows, and a miss
    * appends the k rows its search collected. Returns (result lines,
    * hit?). A store update for the provider invalidates its keys
    * ([[invalidateSearchCache]], called from [[ingestBatch]]), so a
    * repeat search after ingest recomputes.
    */
  def runSearchCached(spark: SparkSession, storeDir: String, query: String,
                      providerName: String, k: Int): (Seq[String], Boolean) = {
    val qv = Embedding.embedQuery(query, providerName).toSeq
    val key = Search.cacheKeyOf(spark, qv, providerName, k)
    val f = new java.io.File(s"$storeDir/search_cache.parquet")
    val cache =
      if (f.exists())
        Tables.handle(spark, f.toString)(spark.read.schema(SearchCacheSchema).parquet(f.toString))
      else spark.createDataFrame(java.util.Collections.emptyList[Row](), SearchCacheSchema)
    val (res, hit) = Search.cachedSearch(cache, key, () =>
      Search.knn(openTable(spark, storeDir, "embeddings"), qv, k = k,
                 provider = Some(providerName), tieBreak = Seq(col("chunk_id")))
        .select(lit(providerName).as("embedding_provider"),
                col("chunk_id"), col("score")))
    if (!hit)
      res.select(SearchCacheSchema.fieldNames.map(col).toSeq: _*)
        .write.mode(SaveMode.Append).parquet(f.toString)
    val rows = res.select(col("chunk_id"), col("score")).collect().toSeq
      .sortBy(r => (-r.getDouble(1), r.getString(0)))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String))
    (rows.map(r => s"""{"chunk_id":"${r.getString(0)}","score":${r.getDouble(1)}}"""), hit)
  }

  // ------------------------------------------------------------------ search

  /** `search <query>`: embed the query text, exact cosine top-k over
    * the stored embeddings, then chunk content by id
    * (`cli/main.py:36-51` → `api/routes/documents.py:95-130`).
    */
  def runSearch(spark: SparkSession, storeDir: String, query: String,
                providerName: String, k: Int): Seq[String] = {
    val qv = Embedding.embedQuery(query, providerName)
    val emb = openTable(spark, storeDir, "embeddings")
    val top = Search.knn(emb, qv.toSeq, k = k, provider = Some(providerName),
                         tieBreak = Seq(col("chunk_id")))
      .select(col("chunk_id"), col("score")).collect().toSeq
    withContent(spark, storeDir, top) { (r, content) =>
      s"""{"chunk_id":"${r.getString(0)}",""" +
      s""""score":${r.getDouble(1)},"content":"$content"}"""
    }
  }

  /** The serving rule every search kind follows: a ranking is
    * collected to the driver first, then the content of its ids is
    * fetched by one read of `chunks` filtered on those ids as literals
    * (bucket-pruned; no join, so no adaptive stage), and each ranked
    * row (id first) becomes a line in ranked order, with its content
    * JSON-escaped. Ids the store no longer holds drop out.
    */
  private def withContent(spark: SparkSession, storeDir: String, ranked: Seq[Row])
                         (line: (Row, String) => String): Seq[String] = {
    val ids = ranked.map(_.getString(0))
    val content =
      if (ids.isEmpty) Map.empty[String, String]
      else openTable(spark, storeDir, "chunks")
        .filter(col("chunk_id").isInCollection(ids))
        .select(col("chunk_id"), col("content"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    ranked.flatMap(r => content.get(r.getString(0)).map(c => line(r, jsonEscape(c))))
  }

  /** `search <store> <query> --mmr [provider] [k]`: diversified
    * serving — [[runSearch]]'s exact relevance pool (4k candidates),
    * greedily re-picked by MMR ([[graft.search.Ann.mmrRerank]],
    * λ=1/2, exact integers) so a store full of near-duplicate chunks
    * answers with coverage instead of the same passage k times.
    * Emits rank, the integer relevance/redundancy pair, and content.
    */
  def runSearchMmr(spark: SparkSession, storeDir: String, query: String,
                   providerName: String, k: Int): Seq[String] = {
    val qv = Embedding.embedQuery(query, providerName)
    val emb = openTable(spark, storeDir, "embeddings")
      .filter(col("embedding_provider") === providerName)
    graft.search.Ann.mmrRerank(emb, "chunk_id", "embedding", qv.toSeq,
                               k = k, poolSize = 4 * k)
      .join(openTable(spark, storeDir, "chunks")
              .select(col("chunk_id"), col("content")), Seq("chunk_id"))
      .orderBy(col("rnk"))
      .collect().map { r =>
        val content = jsonEscape(r.getAs[String]("content"))
        s"""{"rnk":${r.getAs[Long]("rnk")},"chunk_id":"${r.getAs[String]("chunk_id")}",""" +
        s""""rel":${r.getAs[Long]("rel")},"red":${r.getAs[Long]("red")},"content":"$content"}"""
      }.toSeq
  }

  /** `search <store> <query> --prf`: lexical retrieval through the
    * q164 pseudo-relevance-feedback loop over the store's chunks —
    * seed docs on the literal terms, TF-IDF-mined expansion terms,
    * re-retrieval under the expanded set. The lexical answer to
    * vocabulary mismatch, serving beside `--hybrid`'s vector tier.
    */
  def runSearchPrf(spark: SparkSession, storeDir: String, query: String,
                   k: Int): Seq[String] = Pins.scope {
    graft.search.Search.prfTopK(
        openTable(spark, storeDir, "chunks"), "chunk_id", "content", query,
        seedK = 3, expand = 2, k = k)
      .join(openTable(spark, storeDir, "chunks")
              .select(col("chunk_id"), col("content")), Seq("chunk_id"))
      .orderBy(col("rnk"))
      .collect().map { r =>
        val content = jsonEscape(r.getAs[String]("content"))
        s"""{"rnk":${r.getAs[Long]("rnk")},"chunk_id":"${r.getAs[String]("chunk_id")}",""" +
        s""""score":${r.getAs[Long]("score")},"content":"$content"}"""
      }.toSeq
  }

  /** `search <store> <query> --bm25`: LEXICAL ranking — BM25 with the
    * Lucene-parity log IDF over the store's chunks. Serves from the
    * STORED postings index + norms sidecar when `Main postings` built
    * one (term-bucket-pruned candidate scan, corpus text never
    * touched — q175's posture); falls back to the inline scan
    * otherwise. Both paths produce the IDENTICAL ranking (spec-pinned
    * in `Bm25LogSpec`), so index presence changes cost, never answers.
    */
  def runSearchBm25(spark: SparkSession, storeDir: String, query: String,
                    k: Int): Seq[String] =
    withContent(spark, storeDir, bm25Ranking(spark, storeDir, query, k)) { (r, content) =>
      s"""{"chunk_id":"${r.getString(0)}",""" +
      s""""score":${r.getLong(2)},"dl":${r.getLong(1)},""" +
      s""""content":"$content"}"""
    }

  /** [[runSearchBm25]]'s ranking, collected: (chunk_id, dl, score) rows,
    * score descending then chunk_id — the stored postings when they
    * carry norms, the inline scan otherwise. The lexical tier of
    * [[runSearchHybrid]] too.
    */
  private def bm25Ranking(spark: SparkSession, storeDir: String, query: String,
                          k: Int): Seq[Row] = {
    val idx = s"$storeDir/postings.idx"
    val ranked =
      if (Search.postingsServesBm25(idx))
        Search.bm25LogTopKStored(spark, idx, "chunk_id", query, k = k)
      else
        Search.bm25LogTopK(openTable(spark, storeDir, "chunks"),
                           "chunk_id", "content", query, k = k)
    ranked.select(col("chunk_id"), col("dl"), col("score")).collect().toSeq
  }

  /** `search <store> <query> --suggest`: "did you mean" — exact
    * Levenshtein-1 neighbors of each query term from the store's chunk
    * vocabulary via the SymSpell delete-variant join (q172,
    * [[graft.search.Search.spellSuggest]]), ranked by corpus
    * frequency. The serving answer when a query term is a typo the
    * lexical tiers would otherwise silently zero-hit on.
    */
  def runSearchSuggest(spark: SparkSession, storeDir: String, query: String,
                       k: Int): Seq[String] = Pins.scope {
    import spark.implicits._
    val terms = Search.queryTokens(query)
    require(terms.nonEmpty, "query must contain at least one word token")
    Search.spellSuggest(openTable(spark, storeDir, "chunks"), "content",
                        terms.toDF("probe"), "probe", k = k)
      .orderBy(col("probe"), col("rnk"))
      .collect().map { r =>
        s"""{"probe":"${jsonEscape(r.getAs[String]("probe"))}",""" +
        s""""rnk":${r.getAs[Long]("rnk")},""" +
        s""""term":"${jsonEscape(r.getAs[String]("term"))}",""" +
        s""""tf":${r.getAs[Long]("tf")}}"""
      }.toSeq
  }

  /** `index <store> [provider] [nlist]`: build (or rebuild) the stored
    * IVF-PQ vector index over the store's embeddings for one provider
    * — the served-ANN analogue of [[runBuildPostings]], and the
    * build-once side of [[runSearchAnn]]. Quantizers come from the
    * sample-train recipe ([[graft.search.VectorIndex.build]]); once
    * present, [[ingestBatch]] reconciles the index on every batch so
    * it never needs this full rebuild again except to retrain (data
    * drift) or change nlist.
    */
  def runBuildVectorIndex(spark: SparkSession, storeDir: String,
                          providerName: String = "nomic",
                          nlist: Int = 8): Long = {
    val path = graft.search.VectorIndex.indexPath(storeDir)
    graft.search.VectorIndex.build(spark,
      openTable(spark, storeDir, "embeddings")
        .filter(col("embedding_provider") === providerName)
        .select(col("chunk_id"), col("embedding")),
      "chunk_id", "embedding", path, providerName, nlist = nlist)
    spark.read.parquet(path).count()
  }

  /** `balance <store> [maxRows]`: the scheduled vector-index
    * maintenance pass — split every cell that outgrew `maxRows`
    * ([[graft.search.VectorIndex.balance]]: hottest first, bounded
    * budget, unsplittable cells skipped loudly), then compact the
    * small files appends and splits left behind. The sidecar picks up
    * the new routing centroids atomically with the pass, so serving
    * continues under the balanced layout with no other change.
    */
  def runBalanceVectorIndex(spark: SparkSession, storeDir: String,
                            maxRows: Long): Seq[String] = {
    import graft.search.VectorIndex
    val path = VectorIndex.indexPath(storeDir)
    val report = VectorIndex.balance(spark, path, maxRows,
                                     "chunk_id", "embedding")
    val (fBefore, fAfter) =
      if (VectorIndex.hasCells(path))
        Tables.withTableLock(path) {
          Tables.compactPartitions(spark, path, "cell")
        }
      else (0, 0)
    report.map { a =>
      val oc = jsonEscape(a.outcome)
      s"""{"cell":${a.cell},"n_rows":${a.nRows},"outcome":"$oc"}"""
    } :+
      s"""{"files_before":$fBefore,"files_after":$fAfter}"""
  }

  /** `search <store> <query> --ann [--nprobe=N]`: serve the query from
    * the STORED vector index instead of brute-scanning every embedding
    * — the plan that holds at 100 TB: partition-pruned cells, a
    * codes-only ADC scan, then an exact integer re-rank of a
    * constant-sized candidate set. The query embeds under the INDEX's
    * own provider (from the sidecar — a caller-chosen provider would
    * put the query in a different metric space than the index).
    * Results order by exact squared L2 ascending; for the L2-normalized
    * providers this is the cosine ranking [[runSearch]] serves, modulo
    * IVF recall at the chosen nprobe.
    */
  def runSearchAnn(spark: SparkSession, storeDir: String, query: String,
                   k: Int, nprobe: Int = 2): Seq[String] = {
    import graft.search.VectorIndex
    val path = VectorIndex.indexPath(storeDir)
    // the one serving gate (sidecar commit marker AND cells): a build
    // that crashed before writeMeta must read as "no index", never
    // reach readMeta
    if (!VectorIndex.servable(storeDir)) return Seq.empty
    val meta = VectorIndex.readMeta(path)
    val qv = Embedding.embedQuery(query, meta.provider).toSeq
      .map(graft.search.Ann.quantizeL)
    val top = VectorIndex.topK(spark, path, meta, "chunk_id", "embedding", qv, k, nprobe)
      .select(col("chunk_id"), col("d2")).collect().toSeq
    withContent(spark, storeDir, top) { (r, content) =>
      s"""{"chunk_id":"${r.getString(0)}",""" +
      s""""d2":${r.getLong(1)},"content":"$content"}"""
    }
  }

  /** `recall <store> [k] [nprobe] [nQueries]`: the served index's
    * recall monitor — the q143 operator run against the STORED probe
    * itself, not an assignment replay (after splits the stored routing
    * can differ from a fresh assignment, and the monitor must measure
    * what serving actually returns): the first `nQueries` stored
    * vectors (by id — deterministic traffic sample) are probed through
    * [[graft.search.VectorIndex.topK]] and their top-k compared to the
    * exact integer-L2 brute ranking over the provider slice. Recall is
    * a property of the data under the quantizer, so this re-measures
    * as the corpus drifts; per-query JSON plus a summary line.
    */
  def runRecallCheck(spark: SparkSession, storeDir: String, k: Int = 10,
                     nprobe: Int = 2, nQueries: Int = 5): Seq[String] = {
    import graft.search.{Ann, VectorIndex}
    val path = VectorIndex.indexPath(storeDir)
    val meta = VectorIndex.readMeta(path)
    val slice = openTable(spark, storeDir, "embeddings")
      .filter(col("embedding_provider") === meta.provider)
      .select(col("chunk_id"), col("embedding"))
    val queries = slice.orderBy(col("chunk_id")).limit(nQueries)
      .collect().map(r =>
        (r.getString(0), r.getSeq[Float](1).map(Ann.quantizeL).toSeq)).toSeq
    // exact side: ONE scored pass over the slice for ALL queries (the
    // broadcast batch-kNN shape) — per-query full scans would pay
    // nQueries× the corpus I/O for the same answer
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val qdf = queries.map { case (qid, qv) =>
      (qid, qv, qv.map(x => x * x).sum)
    }.toDF("__qid", "__qv", "__qn")
    val iv = Ann.intVec(col("embedding"))
    val w = Window.partitionBy(col("__qid"))
      .orderBy(col("d2").asc, col("chunk_id"))
    val exactByQ: Map[String, Set[String]] = slice
      .crossJoin(broadcast(qdf))
      .withColumn("d2",
        Ann.intDot(iv, iv) - lit(2L) * Ann.intDot(iv, col("__qv")) + col("__qn"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("__qid"), col("chunk_id"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getString(1)).toSet).toMap
    val perQuery = queries.map { case (qid, qv) =>
      val stored = VectorIndex.topK(spark, path, meta, "chunk_id", "embedding",
                                    qv, k, nprobe)
        .select(col("chunk_id"))
        .collect().map(_.getString(0)).toSet
      (qid, (stored & exactByQ.getOrElse(qid, Set.empty)).size)
    }
    val mean100 =
      if (perQuery.isEmpty) 0L
      else perQuery.map(_._2.toLong).sum * 100 / (perQuery.size * k)
    perQuery.map { case (qid, h) =>
      s"""{"query_chunk_id":"$qid","n_hits":$h,"k":$k}"""
    } :+ s"""{"mean_recall_pct":$mean100,"nprobe":$nprobe,"n_queries":${perQuery.size}}"""
  }

  /** `drift <store>`: the served index's retrain trigger — train
    * FRESH quantizer centroids on today's store sample (the EXACT
    * build recipe, replayed from the sidecar's nlist/codebookK/
    * samplePct) and report each sidecar centroid's
    * exact L2² to its nearest fresh centroid ([[graft.search.Ann.centroidChamfer]]
    * — matching-free, cell ids have no identity across trainings).
    * Stationary data reproduces the build bit-for-bit (all shifts 0,
    * the trainers being deterministic); drifted data leaves some
    * sidecar centroid's region unrepresented and its shift explodes —
    * the signal to `Main index` (retrain + rebuild). Sample-scale cost.
    */
  def runDriftCheck(spark: SparkSession, storeDir: String): Seq[String] = {
    val (_, shifts) = sidecarDrift(spark, storeDir)
    shifts.map { case (c, nc, d2) =>
      s"""{"cell":$c,"nearest_fresh":$nc,"shift_d2":$d2}"""
    } :+ s"""{"max_shift_d2":${shifts.map(_._3).max},"mean_shift_d2":${shifts.map(_._3).sum / shifts.size}}"""
  }

  /** Sidecar-vs-fresh drift: train FRESH coarse centroids on today's
    * store sample under the sidecar's EXACT build recipe
    * ([[graft.search.VectorIndex.trainCoarse]] — one copy of the
    * sample/fallback/clamp/rounds rule), then each sidecar centroid's
    * exact L2² to its nearest fresh one
    * ([[graft.search.Ann.centroidChamfer]] — matching-free, cell ids
    * have no identity across trainings). Stationary data reproduces
    * the build bit-for-bit (all shifts 0, the trainers being
    * deterministic); drifted data leaves some sidecar centroid's
    * region unrepresented and its shift explodes. Sample-scale cost.
    * Shared by the monitor (`Main drift`) and the remediation's gate
    * (`Main reindex --if-drift=T`) so the trigger measures exactly
    * what the monitor reports. Nonzero shifts also follow cell splits
    * since the build — a child's shift measures its distance to the
    * parent's region: local mass worth retraining toward.
    */
  private def sidecarDrift(spark: SparkSession, storeDir: String)
      : (graft.search.VectorIndex.Meta, Seq[(Long, Long, Long)]) = {
    import graft.search.{Ann, VectorIndex}
    val meta = VectorIndex.readMeta(VectorIndex.indexPath(storeDir))
    val slice = openTable(spark, storeDir, "embeddings")
      .filter(col("embedding_provider") === meta.provider)
      .select(col("chunk_id"), col("embedding"))
    val fresh = VectorIndex.trainCoarse(slice, "chunk_id", "embedding", meta)
    (meta, Ann.centroidChamfer(meta.centroids, fresh))
  }

  /** `reindex <store> [--if-drift=T]`: the drift monitor's
    * remediation, closing the monitor → retrain → serve loop the
    * reference's vector store never needs (its quantizers are the
    * identity). Measures sidecar-vs-fresh drift ([[sidecarDrift]] —
    * the same number `Main drift` reports); if `--if-drift=T` is
    * given and `max_shift_d2 <= T` the index is left untouched (the
    * cheap steady-state outcome: one sample-scale training, no
    * corpus pass). Otherwise retrains quantizers and rebuilds the
    * index under the sidecar's OWN recipe
    * ([[graft.search.VectorIndex.build]] with the sidecar's
    * nlist/codebookK/m/samplePct/rounds — `Main index`'s flags don't
    * have to be remembered), after which the drift reading is zero by
    * construction and serving continues under the new sidecar.
    */
  def runReindex(spark: SparkSession, storeDir: String,
                 ifDrift: Option[Long]): Seq[String] = {
    import graft.search.VectorIndex
    val (meta, shifts) = sidecarDrift(spark, storeDir)
    val maxShift = shifts.map(_._3).max
    val gate = s""""max_shift_d2":$maxShift,"threshold":${ifDrift.getOrElse(-1L)}"""
    if (ifDrift.exists(maxShift <= _))
      Seq(s"""{"retrained":false,$gate}""")
    else {
      val path = VectorIndex.indexPath(storeDir)
      VectorIndex.build(spark,
        openTable(spark, storeDir, "embeddings")
          .filter(col("embedding_provider") === meta.provider)
          .select(col("chunk_id"), col("embedding")),
        "chunk_id", "embedding", path, meta.provider,
        nlist = meta.nlist, codebookK = meta.codebookK, m = meta.m,
        dims = meta.dims, samplePct = meta.samplePct, rounds = meta.rounds)
      val n = spark.read.parquet(path).count()
      Seq(s"""{"retrained":true,$gate,"indexed":$n}""")
    }
  }

  /** `search <store> <query> --hybrid [--nprobe=N]`: fuse the two
    * retrieval tiers the store serves — [[runSearchBm25]]'s lexical
    * ranking (log IDF; the stored postings when built) and the stored
    * vector index's ANN probe — by reciprocal-rank fusion (q126's
    * operator, served). The tiers disagree exactly when one modality
    * is blind (paraphrases beat BM25; exact identifiers beat
    * embeddings), and RRF is the rank-level fusion that needs no score
    * calibration between them. Both rankings are collected first and
    * fused on the driver ([[Search.rrfFuseRows]], no job; the store's
    * chunk ids are ASCII, so String order is Spark's byte order). Emits
    * (chunk_id, rrf_score, n_lists): n_lists = 2 marks hits both tiers
    * agree on.
    */
  def runSearchHybrid(spark: SparkSession, storeDir: String, query: String,
                      k: Int, nprobe: Int = 2): Seq[String] = {
    import graft.search.{Ann, VectorIndex}
    import spark.implicits._
    val sparse = bm25Ranking(spark, storeDir, query, k).map(_.getString(0))
    val rankings =
      if (!VectorIndex.servable(storeDir)) Seq(sparse)
      else {
        val path = VectorIndex.indexPath(storeDir)
        val meta = VectorIndex.readMeta(path)
        val qv = Embedding.embedQuery(query, meta.provider).toSeq
          .map(Ann.quantizeL)
        Seq(sparse, VectorIndex.topK(spark, path, meta, "chunk_id", "embedding",
                                     qv, k, nprobe)
                      .select(col("chunk_id")).as[String].collect().toSeq)
      }
    Search.rrfFuseRows(rankings, k = k).map { case (id, score, n) =>
      s"""{"chunk_id":"$id","rrf_score":$score,"n_lists":$n}"""
    }
  }

  /** `postings <store> [nBuckets]`: build (or rebuild) the stored
    * positional postings index over the chunk content — the
    * build-once side of [[runPhrase]]. Once present, [[ingestBatch]]
    * maintains it incrementally (stale docs' buckets swapped, fresh
    * chunks appended) so it never needs this full rebuild again
    * except to change the bucket layout.
    */
  def runBuildPostings(spark: SparkSession, storeDir: String,
                       nBuckets: Int = 64): Long = {
    Search.writePostings(
      openTable(spark, storeDir, "chunks").select(col("chunk_id"), col("content")),
      "chunk_id", "content", s"$storeDir/postings.idx", nBuckets)
    spark.read.parquet(s"$storeDir/postings.idx").count()
  }

  /** `phrase <store> <phrase>`: exact phrase occurrences over the
    * stored postings index — the probe reads only the term buckets the
    * phrase hashes to (PartitionFilters), never the corpus.
    */
  def runPhrase(spark: SparkSession, storeDir: String, phrase: String): Seq[String] = {
    Search.phraseOccurrencesStored(spark, s"$storeDir/postings.idx",
                                   "chunk_id", phrase)
      .orderBy(col("chunk_id"))
      .collect().map { r =>
        s"""{"chunk_id":"${r.getAs[String]("chunk_id")}",""" +
        s""""n_occurrences":${r.getAs[Long]("n_occurrences")},""" +
        s""""first_pos":${r.getAs[Long]("first_pos")}}"""
      }.toSeq
  }

  /** `metasearch <store> <query> [k=v ...]`: the reference's
    * `GET /documents/search/metadata` endpoint as a product command —
    * text match (ES `match` semantics, Q3) candidates from the STORED
    * postings index when `Main postings` has built one (pruned probe —
    * corpus text never opened), inline scan otherwise, intersected
    * with conjunctive metadata equality filters over the documents
    * table (Q2). Output is doc-level: id, filename, matched-chunk
    * count. Unknown filter columns fail loudly — a typo'd filter must
    * never silently widen to the whole store.
    */
  def runMetaSearch(spark: SparkSession, storeDir: String, query: String,
                    filters: Map[String, String]): Seq[String] = {
    val docs = openTable(spark, storeDir, "documents")
    filters.keys.foreach(k => require(docs.columns.contains(k),
      s"unknown metadata column '$k' — documents has: ${docs.columns.sorted.mkString(", ")}"))
    val filtered = filters.foldLeft(
        docs.filter(!col("status").isin(Schemas.DocumentStatus.Dead: _*))) {
      case (d, (k, v)) => d.filter(col(k).cast("string") === v)
    }
    val hits = metaSearchHits(spark, storeDir, query)
    filtered.select(col("doc_id"), col("filename"))
      .join(hits, Seq("doc_id"))
      .orderBy(col("doc_id"))
      .collect().map { r =>
        s"""{"doc_id":"${r.getAs[String]("doc_id")}",""" +
        s""""filename":"${jsonEscape(r.getAs[String]("filename"))}",""" +
        s""""n_chunks":${r.getAs[Long]("n_chunks")}}"""
      }.toSeq
  }

  /** [[runMetaSearch]]'s candidate step, exposed so the spec asserts
    * the PRODUCTION plan: matched chunk ids (stored-postings probe when
    * the index exists, inline scan otherwise) grouped to per-doc hit
    * counts. Doc ids are the fixed-width sha256 prefix of the chunk_id
    * (the ingest maintenance convention) — the stored path must not
    * scan the corpus-sized chunks table just to recover them, or the
    * index's term-posting-sized advantage evaporates.
    */
  private[graft] def metaSearchHits(spark: SparkSession, storeDir: String,
                                    query: String): DataFrame = {
    val idx = new java.io.File(s"$storeDir/postings.idx")
    val matched =
      if (idx.exists())
        Search.textMatchStored(spark, idx.toString, "chunk_id", query)
      else Search.textMatch(openTable(spark, storeDir, "chunks"),
                            "content", query).select(col("chunk_id"))
    matched
      .groupBy(substring(col("chunk_id"), 1, 64).as("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
  }

  /** Corpus profile over the stored chunks: per chunking strategy, the
    * chunk-content length quantiles from the mergeable log2-histogram
    * sketch plus the exact Zipf rank-frequency slope and the
    * distinct-token register estimate — the operational "is the store
    * healthy" summary (a runaway chunker or a truncating converter
    * shows up as a collapsed p50/p99 immediately; template/boilerplate
    * mass flattens the slope).
    *
    * SERVED FROM THE STORED `profile_state` ARTIFACT
    * ([[graft.text.ProfileState]]) whenever its fingerprint matches
    * the live chunks table — the report then costs a register/
    * histogram/vocab-sized read, not a corpus scan + re-tokenize. On
    * any mismatch (legacy store, crash window, foreign rewrite) it
    * falls back to a full rescan and, unless `readOnly`, HEALS the
    * artifact from that rescan. `rebuild` forces the rescan path (the
    * escape hatch that also resets the history-monotone register
    * part). `probeTokens` adds one Count-Min point-estimate line per
    * token (normalized into the sketch's lowercase token model; ≥ the
    * true count, one-sided). The report is BIT-IDENTICAL between the
    * state-served and rescan paths — except the register line after a
    * WIDE demotion batch (more touched shards than
    * [[graft.text.ProfileState.MaxExactShards]]), which reads
    * "distinct tokens ever kept" until a rebuild (the documented HLL
    * no-deletion trade, announced in the runlog; spec-pinned). Small
    * subtractions rebuild their shards exactly at ingest, so the
    * common case is bit-identical everywhere.
    */
  def runProfile(spark: SparkSession, storeDir: String,
                 rebuild: Boolean = false,
                 probeTokens: Seq[String] = Nil,
                 readOnly: Boolean = false): Seq[String] = Pins.scope {
    import graft.text.ProfileState
    val chunksDir = new java.io.File(s"$storeDir/chunks.parquet")
    require(chunksDir.exists(), s"no chunks table under $storeDir — ingest first")
    // the rescan paths pin the scan, freed after the report collects:
    // the serving actions below would otherwise re-scan/re-tokenize
    // the corpus once per report family
    val parts =
      (if (rebuild) None else ProfileState.readSynced(spark, storeDir, chunksDir))
        .getOrElse {
          // fingerprint BEFORE the scan frames are built — the pair
          // written below must describe the listing the scan read
          val fp = ProfileState.dirFingerprint(chunksDir)
          val base = pin(openTable(spark, storeDir, "chunks")
            .select(col("doc_id"), col("strategy"), col("content")))
          val scanned = ProfileState.fromChunks(base)
          if (readOnly) scanned
          else {
            ProfileState.write(spark, storeDir, scanned, fp)
            // serve from the committed artifact: each report family
            // below is its own action, and the artifact read is
            // sketch-sized while the scan plan re-tokenizes per action
            ProfileState.read(spark, storeDir).get._1
          }
        }
    val perStrategy = graft.text.Profile
      .histogramQuantiles(parts.hist, "strategy", Seq(50, 90, 99))
      .orderBy(col("strategy"))
      .collect().map { r =>
        s"""{"strategy":"${r.getAs[String]("strategy")}",""" +
        s""""n_docs":${r.getAs[Long]("n_docs")},"p50_lb":${r.getAs[Long]("p50_lb")},""" +
        s""""p90_lb":${r.getAs[Long]("p90_lb")},"p99_lb":${r.getAs[Long]("p99_lb")}}"""
      }.toSeq
    val z = graft.text.TextStats.zipfSlopeFromVocab(parts.vocab).head()
    val zipfLine =
      s"""{"zipf_n_terms":${z.getLong(0)},""" +
      s""""zipf_slope_num":${z.getLong(1)},""" +
      s""""zipf_slope_den":${z.getLong(2)}}"""
    val sketchLines = graft.text.Profile
      .distinctFromRegisters(ProfileState.registersAcrossShards(parts.regs),
                             "strategy")
      .orderBy(col("strategy"))
      .collect().map { r =>
        s"""{"strategy":"${r.getAs[String]("strategy")}",""" +
        s""""registers_used":${r.getAs[Long]("registers_used")},""" +
        s""""est_distinct":${r.getAs[Long]("est_distinct")}}"""
      }.toSeq
    val probeLines =
      if (probeTokens.isEmpty) Seq.empty
      else {
        import spark.implicits._
        val norm = probeTokens.map(_.toLowerCase(java.util.Locale.ROOT))
          .filter(_.nonEmpty).distinct
        val est = graft.text.Profile
          .cmsEstimate(parts.cms, norm.toDF("token"), "token")
          .collect().map(r => r.getAs[String]("token") ->
                              r.getAs[Long]("est_cnt")).toMap
        norm.map(t =>
          s"""{"token":"${jsonEscape(t)}","est_cnt":${est.getOrElse(t, 0L)}}""")
      }
    (perStrategy :+ zipfLine) ++ sketchLines ++ probeLines
  }

  // ------------------------------------------------------------------ delete

  /** `delete <store> <docId> [docId ...] [--ids-file=F]
    * [--purge-snapshots]` — the takedown/compliance transaction: ONE
    * lease-held commit that removes an ID SET's content from every
    * serving tier while leaving tombstone rows. Demotion only removes
    * docs as a side effect of dedup at ingest; this is the direct
    * removal a takedown/GDPR request needs — and real requests arrive
    * as LISTS, so the whole stage order below runs ONCE over the set
    * (one swap per table, one postings pass, one profile fold, one
    * reconcile), not once per id: a 10,000-id batch costs one store
    * rewrite, not 10,000. Stage order, RE-RUNNABLE:
    *
    *  1. chunks pruned (one anti-join); the profile state folds the
    *     exact subtraction, and the register shards the ids touch are
    *     REBUILT from survivors — post-delete the distinct-token line
    *     serves ≡ rescan ([[graft.text.ProfileState.commitAfterDelete]])
    *  2. postings swapped out FIRST, from the pre-prune capture
    *     (bucket-pruned — cost scales with the docs' vocabulary)
    *  3. embeddings pruned (every provider); stored vector index
    *     reconciled once against the pruned slice
    *  4. signatures pruned (the docs leave the dedup index)
    *  5. search cache dropped wholesale (any provider's cached ranking
    *     may cite the deleted chunks)
    *  6. documents rows → status 'removed', content_b64 NULLED, in ONE
    *     table swap — THE COMMIT POINT: everything before it is
    *     idempotent maintenance, so a crash anywhere (including
    *     mid-batch) converges by re-running the same delete; only
    *     after this flip does a second delete fail loudly.
    *
    * BATCH CONTRACT: an unknown or already-removed id anywhere in the
    * set fails the WHOLE batch loudly BEFORE any mutation — a partial
    * compliance action that silently skipped ids is worse than a
    * retryable error (the reference's 404 contract, set-valued).
    *
    * The tombstones audit the takedown and block resurrection:
    * [[ingestBatch]] drops any arriving upload whose doc_id matches a
    * removed row (same bytes + filename → same id).
    *
    * SNAPSHOT CARVE-OUT: snapshots are immutable history whose
    * hardlinks keep pre-delete files alive — `--snapshot=` reads still
    * serve the docs and a `rollback` resurrects them (the gate guards
    * ingest, not time travel). Each report line NAMES the snapshots
    * still holding that doc (`snapshots_holding`). Two erasure
    * completions, mutually exclusive:
    *
    *  - `--scrub-snapshots` (SURGICAL, the default recommendation):
    *    AFTER the commit point, each holding snapshot is rewritten IN
    *    PLACE minus the ids — literally [[deleteTransaction]] at the
    *    snapshot's root (a snapshot is a complete store), so the stage
    *    order, the tombstone commit point, and the crash convergence
    *    are the live transaction's own. Other docs' time travel
    *    SURVIVES: the snapshot still serves every other doc, and a
    *    `rollback` to it cannot resurrect the scrubbed ids (their
    *    tombstones roll back WITH it, so the ingest gate holds). All
    *    writes are fresh-file + swap-rename — shared hardlinked inodes
    *    are never modified, so the live store and sibling snapshots
    *    are untouched. A crash mid-scrub converges by re-running the
    *    SAME command: already-removed live ids are tolerated under
    *    this flag (the live store is not touched again), fully-
    *    scrubbed snapshots no longer audit as holding, and a half-
    *    scrubbed one re-runs its idempotent stages. A snapshot whose
    *    scrub fails — or whose documents table is UNREADABLE (scrub
    *    needs to read what it rewrites) — is reported loudly while the
    *    committed delete stands: inspect it, then `dropsnapshot` or
    *    re-run with `--purge-snapshots`. SCHEDULING NOTE: each
    *    snapshot's rewrite holds the live `.store` lease (a restore
    *    must never relink a half-scrubbed snapshot), so a store with
    *    many large holding snapshots serializes ingest/delete writers
    *    behind the compliance pass — schedule big scrubs off-peak.
    *  - `--purge-snapshots` (WHOLESALE): every holding snapshot is
    *    dropped entirely — [[graft.io.Snapshots.drop]] outside the
    *    store lease (it takes it itself); a failed drop is loud while
    *    the committed delete stands (retry = `dropsnapshot` by hand —
    *    the failure message names the survivors). DOCUMENTED TRADEOFF:
    *    a snapshot whose documents table is unreadable even after a
    *    retry is dropped WHOLESALE under this flag — erasure must not
    *    be blocked by a damaged backup — so if its other contents
    *    might matter, inspect it first (`snapshot` list + a
    *    `--snapshot=` read) or use `--scrub-snapshots`, which refuses
    *    unreadable snapshots instead of destroying them. The summary
    *    line's `purged_for_unreadability` names exactly the snapshots
    *    dropped for that reason (vs provably holding the ids).
    *
    * Both completions end with a ROLLBACK-RACE POSTCHECK: the per-
    * snapshot loops re-acquire the live lease between snapshots, so a
    * concurrent `rollback` to a not-yet-processed holding snapshot
    * could relink pre-delete content live mid-command — the command
    * re-reads the live documents table under the lease after the last
    * snapshot and fails loudly if any id is no longer tombstoned
    * (recovery: re-run the same command).
    */
  def runDelete(spark: SparkSession, storeDir: String, docId: String,
                now: Timestamp): Seq[String] =
    runDelete(spark, storeDir, Seq(docId), now, purgeSnapshots = false)

  def runDelete(spark: SparkSession, storeDir: String, docIds: Seq[String],
                now: Timestamp, purgeSnapshots: Boolean,
                scrubSnapshots: Boolean = false): Seq[String] = {
    require(docIds.nonEmpty, "delete needs at least one docId")
    require(!(purgeSnapshots && scrubSnapshots),
      "--purge-snapshots and --scrub-snapshots are mutually exclusive")
    val ids = docIds.distinct
    // (per-doc counts, per-doc holding snapshots, unreadable snapshot
    // names) out of the lease-held transaction; the purge/scrub below
    // must run OUTSIDE the .store lease
    // heartbeat: a GDPR-scale batch can legitimately outlast staleMs,
    // and a taken-over lease mid-delete is exactly the lost-update the
    // lease exists to prevent (the Wds export convention)
    val (counts, holding, unreadable) =
      Tables.withTableLock(s"$storeDir/.store", heartbeatMs = 60000L) {
        // this transaction's scratch pins (the id set, the chunk
        // capture) are freed before returning — repeated takedowns in
        // a long-lived session must not accumulate pinned RDDs
        Pins.scope {
          deleteTransaction(spark, storeDir, ids, now,
                            tolerateRemoved = scrubSnapshots)
        }
      }
    // the live delete is COMMITTED and the lease released; the
    // completion loops below re-acquire it per snapshot — the window
    // the rollback-race postcheck (end of this method) guards, and
    // where ConcurrencySpec interleaves a rollback deterministically
    graft.io.Faults.point("delete.after-live-commit")
    // WHOLESALE completion: drop every holding snapshot, unreadable
    // ones included (the scaladoc'd tradeoff — erasure over history)
    val toPurge =
      if (purgeSnapshots)
        (ids.flatMap(holding(_)) ++ unreadable).distinct.sorted
      else Nil
    val failed = toPurge.flatMap { n =>
      scala.util.Try(graft.io.Snapshots.drop(storeDir, n)) match {
        case scala.util.Success(_) => None
        case scala.util.Failure(e) => Some(n -> e)
      }
    }
    val purgedSet = toPurge.toSet -- failed.map(_._1)
    if (failed.nonEmpty)
      throw new IllegalStateException(
        s"delete of ${ids.size} doc(s) COMMITTED, but purging snapshots " +
          s"failed for [${failed.map(_._1).mkString(", ")}] " +
          s"(purged ok: [${purgedSet.toSeq.sorted.mkString(", ")}]): " +
          s"${failed.head._2.getMessage}; drop the survivors with dropsnapshot",
        failed.head._2)
    // SURGICAL completion: the same transaction at each holding
    // snapshot's root, every snapshot attempted before any failure is
    // raised (maximize completed erasure; the message names survivors)
    val toScrub =
      if (scrubSnapshots) ids.flatMap(holding(_)).distinct.sorted else Nil
    val scrubFailed = toScrub.flatMap { name =>
      val snapRoot = s"$storeDir/.snapshots/$name"
      val heldHere = ids.filter(holding(_).contains(name))
      scala.util.Try {
        // the LIVE store lease serializes each snapshot's rewrite
        // against concurrent snapshot create/restore/drop (all take
        // it) — a restore must never relink a half-scrubbed snapshot;
        // the snapshot-root lease additionally excludes a concurrent
        // scrub of the SAME snapshot. Acquired in this fixed order
        // only here, so no inversion exists. Both heartbeat: a big
        // snapshot's rewrite outlasting staleMs must not let a
        // contender take over and relink mid-scrub.
        Tables.withTableLock(s"$storeDir/.store", heartbeatMs = 60000L) {
        Tables.withTableLock(s"$snapRoot/.store", heartbeatMs = 60000L) {
          Pins.scope {
            deleteTransaction(spark, snapRoot, heldHere, now,
                              tolerateRemoved = true)
          }
        }
        }
      } match {
        case scala.util.Success(_) => None
        case scala.util.Failure(e) => Some(name -> e)
      }
    }
    val scrubbedSet = toScrub.toSet -- scrubFailed.map(_._1)
    if (scrubFailed.nonEmpty)
      throw new IllegalStateException(
        s"delete of ${ids.size} doc(s) COMMITTED, but scrubbing snapshots " +
          s"failed for [${scrubFailed.map(_._1).mkString(", ")}] " +
          s"(scrubbed ok: [${scrubbedSet.toSeq.sorted.mkString(", ")}]): " +
          s"${scrubFailed.head._2.getMessage}; re-run delete " +
          s"--scrub-snapshots to retry, or dropsnapshot the damaged ones",
        scrubFailed.head._2)
    if (scrubSnapshots && unreadable.nonEmpty)
      throw new IllegalStateException(
        s"delete of ${ids.size} doc(s) COMMITTED and readable snapshots " +
          s"scrubbed [${scrubbedSet.toSeq.sorted.mkString(", ")}], but " +
          s"snapshots [${unreadable.sorted.mkString(", ")}] are UNREADABLE " +
          s"and may still hold the docs — inspect and dropsnapshot them, " +
          s"or re-run with --purge-snapshots")
    // ROLLBACK-RACE POSTCHECK (erasure completions only): the purge/
    // scrub loops above re-acquire the live .store lease per snapshot,
    // so between the committed live delete and a given snapshot's turn
    // a concurrent `rollback` to a NOT-YET-PROCESSED holding snapshot
    // can relink pre-delete content into the live store — and without
    // this check the command would still end reporting the docs
    // deleted and every snapshot handled. Re-read the live documents
    // table under the lease and fail loudly if any id is no longer
    // tombstoned; the recovery is re-running the SAME command (the
    // rolled-back-to snapshot is a complete store, so the re-run
    // deletes from it like any live store and re-completes erasure).
    // Gated on a completion having had WORK: with no holding and no
    // unreadable snapshots there is no rollback target containing the
    // ids (a restore from a non-holding snapshot cannot produce a
    // live non-removed copy), so the common snapshot-less delete
    // skips the extra documents scan entirely.
    if ((purgeSnapshots || scrubSnapshots) &&
        (toPurge.nonEmpty || toScrub.nonEmpty)) {
      val resurrected = Tables.withTableLock(s"$storeDir/.store") {
        import spark.implicits._
        val f = new java.io.File(s"$storeDir/documents.parquet")
        Tables.restoreFromTrash(f.toString)
        if (!f.exists()) Nil
        else spark.read.parquet(f.toString)
          .join(ids.toDF("doc_id"), Seq("doc_id"), "left_semi")
          .filter(col("status") =!= lit(Schemas.DocumentStatus.Removed))
          .select(col("doc_id")).as[String].collect().toSeq.sorted
      }
      if (resurrected.nonEmpty)
        throw new IllegalStateException(
          s"delete COMMITTED and snapshots handled, but a concurrent " +
            s"rollback mid-command resurrected [${resurrected.mkString(", ")}] " +
            s"in the live store — re-run the same delete command to " +
            s"re-complete the erasure")
    }
    val gone = purgedSet ++ scrubbedSet
    val lines = ids.map { id =>
      val (nChunks, nEmb, nSigs) = counts(id)
      val held = holding(id).filterNot(gone).sorted
      s"""{"deleted":"${jsonEscape(id)}","chunks_removed":$nChunks,""" +
        s""""embeddings_removed":$nEmb,"signatures_removed":$nSigs,""" +
        s""""snapshots_holding":[${held.map(n => s""""${jsonEscape(n)}"""").mkString(",")}]}"""
    }
    // names dropped ONLY for unreadability (the audit could not know
    // whether they held the ids) reported apart from the holding ones,
    // so the operator can see which purged history was destroyed as a
    // side effect of the damaged-backup tradeoff rather than because
    // it provably held the docs
    val purgedUnreadable = unreadable.filter(purgedSet).sorted
    val summary =
      (if (purgeSnapshots)
         Seq(s"""{"snapshots_purged":[${purgedSet.toSeq.sorted
             .map(n => s""""${jsonEscape(n)}"""").mkString(",")}],""" +
           s""""purged_for_unreadability":[${purgedUnreadable
             .map(n => s""""${jsonEscape(n)}"""").mkString(",")}]}""")
       else Nil) ++
      (if (scrubSnapshots)
         Seq(s"""{"snapshots_scrubbed":[${scrubbedSet.toSeq.sorted
           .map(n => s""""${jsonEscape(n)}"""").mkString(",")}]}""")
       else Nil) ++
      (if (!purgeSnapshots && unreadable.nonEmpty)
         Seq(s"""{"snapshots_unreadable":[${unreadable.sorted
           .map(n => s""""${jsonEscape(n)}"""").mkString(",")}]}""")
       else Nil)
    lines ++ summary
  }

  /** The lease-held body of [[runDelete]]: every stage is one
    * DataFrame operation over the id set. Returns per-doc
    * (chunks, embeddings, signatures) counts, the per-doc
    * snapshots-holding map (readable snapshots only), and the names of
    * UNREADABLE snapshots (documents table fails to read even after a
    * retry — reported separately, never silently merged into holding).
    *
    * `tolerateRemoved` (the scrub / crash-retry path): already-removed
    * ids are excluded from the mutation set instead of failing the
    * batch — when EVERY id is already removed the live tables are not
    * touched at all (no swap, no runlog line) and only the snapshot
    * audit runs, so a re-run after a crash mid-scrub converges without
    * re-mutating a committed store. The same body also runs against a
    * SNAPSHOT root for `--scrub-snapshots`: a snapshot is a complete
    * store, so the scrub is literally this transaction at that root —
    * same stage order, same commit point, same crash convergence.
    */
  private def deleteTransaction(spark: SparkSession, storeDir: String,
                                ids: Seq[String], now: Timestamp,
                                tolerateRemoved: Boolean = false)
      : (Map[String, (Long, Long, Long)], Map[String, Seq[String]],
         Seq[String]) = {
    import spark.implicits._
    import graft.text.ProfileState
    // writer-crash preamble (the shared reader idiom): a prior
    // crashed commit may have parked a table's only copy in .trash —
    // restore BEFORE the exists() checks below decide which tiers to
    // prune, or a re-run delete would silently skip a parked tier
    StoreTables.foreach { t =>
      Tables.restoreFromTrash(s"$storeDir/$t.parquet")
      // and the STALE aside of a writer that crashed between its
      // commit rename and cleanup: a re-run of a committed delete
      // fails loudly pre-commit ("already removed") and so never
      // reaches the writeTable that would sweep it — without this,
      // the documented "re-run the same delete" recovery could leave
      // pre-delete content bytes in documents.parquet.trash forever
      Tables.sweepStaleTrash(s"$storeDir/$t.parquet")
    }
    val docsPath = new java.io.File(s"$storeDir/documents.parquet")
    require(docsPath.exists(), s"no documents table under $storeDir")
    // the id set as a (tiny, broadcast) join side — an isin literal of
    // a 10,000-id GDPR list would be a 10,000-node expression tree
    val idsDf = pin(ids.toDF("doc_id"))
    val stored = spark.read.parquet(docsPath.toString)
      .join(idsDf, Seq("doc_id"), "left_semi")
      .select($"doc_id", $"status")
      .as[(String, String)].collect().toMap
    // BATCH CONTRACT: any bad id fails the whole set before mutation
    ids.filterNot(stored.contains).headOption.foreach(id =>
      throw new IllegalArgumentException(s"no document $id under $storeDir"))
    val removedAlready =
      ids.filter(stored(_) == Schemas.DocumentStatus.Removed).toSet
    if (!tolerateRemoved) removedAlready.headOption
      .foreach(id => throw new IllegalArgumentException(
        s"document $id is already removed"))
    // the ids this run actually mutates; under tolerateRemoved the
    // already-removed rest still participates in the snapshot audit
    val liveIds = ids.filterNot(removedAlready)

    // Snapshot audit BEFORE the commit point: snapshots are immutable,
    // so the set cannot change mid-transaction, and a failure reading a
    // damaged snapshot here leaves the delete UN-committed —
    // re-runnable — instead of wedging a committed delete behind
    // "already removed". A snapshot holding ONLY content-nulled
    // tombstones (an earlier delete+rollback cycle) does not count.
    // An UNREADABLE snapshot must not block the erasure (the whole
    // command exists to remove content — "content retained because a
    // backup is damaged" is the worst outcome). The read is retried
    // ONCE — a transient I/O blip must not condemn healthy immutable
    // history — and a snapshot still failing is classified UNREADABLE,
    // a verdict the caller reports separately: purge drops it
    // wholesale (documented tradeoff), scrub refuses it loudly.
    val snapAudit: Seq[(String, Option[Seq[String]])] =
      graft.io.Snapshots.list(storeDir).flatMap { name =>
        val f = new java.io.File(s"$storeDir/.snapshots/$name/documents.parquet")
        // scrub-crash preamble: a scrub that died inside THIS
        // snapshot's documents swap left either the only copy parked
        // at `.trash` (heal it BEFORE the exists() decision below, or
        // the snapshot silently audits as neither holding nor
        // unreadable and the re-run skips it) or a stale pre-delete
        // aside behind a committed tombstone flip (sweep it — create()
        // never captures trash, so any trash here is crash residue
        // whose bytes a completed erasure must not retain)
        Tables.restoreFromTrash(f.toString)
        Tables.sweepStaleTrash(f.toString)
        if (!f.exists()) None
        else {
          def readHeld() = scala.util.Try(
            spark.read.parquet(f.toString)
              .join(idsDf, Seq("doc_id"), "left_semi")
              .filter($"status" =!= Schemas.DocumentStatus.Removed)
              .select($"doc_id").as[String].collect().toSeq)
          readHeld().orElse(readHeld()) match {
            case scala.util.Success(held) if held.nonEmpty =>
              Some(name -> Some(held))
            case scala.util.Success(_) => None
            case scala.util.Failure(_) => Some(name -> None)
          }
        }
      }
    val holdingPairs: Seq[(String, Seq[String])] =
      snapAudit.collect { case (n, Some(held)) => n -> held }
    val unreadable: Seq[String] = snapAudit.collect { case (n, None) => n }
    // per-snapshot Sets first: a 10,000-id GDPR batch against a
    // snapshot holding most ids would otherwise pay ids × snapshots ×
    // |held| linear scans on the driver — quadratic in the id count
    // the batch form exists to make cheap
    val heldSets = holdingPairs.map { case (n, h) => (n, h.toSet) }
    val holding: Map[String, Seq[String]] = ids.map { id =>
      id -> heldSets.collect { case (n, held) if held(id) => n }
    }.toMap

    // every id already removed (a scrub retry after a crash, or a
    // scrub whose live half completed in an earlier run): the LIVE
    // store is untouched — no swap, no cache drop, no runlog line
    if (liveIds.isEmpty)
      return (ids.map(_ -> ((0L, 0L, 0L))).toMap, holding, unreadable)
    val delDf =
      if (liveIds == ids) idsDf
      else pin(liveIds.toDF("doc_id"))

    val chunksDirF = new java.io.File(s"$storeDir/chunks.parquet")
    // profile-state sync gate + the docs' stored chunks, captured
    // EAGERLY before the prune swaps the table (the ingest pattern)
    val (profileFoldable, oldProfile) =
      ProfileState.preCommitGate(spark, storeDir, chunksDirF)
    val docChunks =
      if (chunksDirF.exists())
        Some(openTable(spark, storeDir, "chunks")
          .join(delDf, Seq("doc_id"), "left_semi")
          .select($"doc_id", $"chunk_id", $"content", $"strategy"))
          .map(pin(_))
      else None
    val chunksByDoc: Map[String, Long] = docChunks
      .map(_.groupBy($"doc_id").agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().toMap)
      .getOrElse(Map.empty)

    // postings leave FIRST, from the pre-prune capture: the reverse
    // order has an unrecoverable window — a crash after the chunks
    // prune makes a re-run's capture empty, and the tombstone gate
    // keeps the docs out of every future batch, so nothing would ever
    // remove their postings (or bm25 norms rows) again. This order
    // is idempotent both ways: re-removing absent postings is a
    // no-op, and the chunks prune below re-runs unchanged.
    val postingsPath = new java.io.File(s"$storeDir/postings.idx")
    if (postingsPath.exists())
      docChunks.foreach(rm =>
        Search.removeFromPostings(spark, rm.select($"chunk_id", $"content"),
                                  "chunk_id", "content",
                                  postingsPath.toString))
    var regsRescanned: Option[Long] = None
    if (chunksDirF.exists()) {
      writeTable(spark, openTable(spark, storeDir, "chunks").limit(0),
                 storeDir, "chunks", keys = Seq("chunk_id"),
                 version = Seq(lit(1)),
                 prune = m => m.join(delDf, Seq("doc_id"), "left_anti"))
      regsRescanned = ProfileState.commitAfterDelete(spark, storeDir,
        chunksDirF, profileFoldable, oldProfile,
        subChunks = docChunks.get, deletedIds = liveIds,
        liveChunks = openTable(spark, storeDir, "chunks"))
    }
    val embPath = new java.io.File(s"$storeDir/embeddings.parquet")
    val embByDoc: Map[String, Long] =
      if (embPath.exists())
        openTable(spark, storeDir, "embeddings")
          .select(substring($"chunk_id", 1, 64).as("doc_id"))
          .join(delDf, Seq("doc_id"), "left_semi")
          .groupBy($"doc_id").agg(count(lit(1)).as("n"))
          .as[(String, Long)].collect().toMap
      else Map.empty
    if (embPath.exists()) {
      writeTable(spark, openTable(spark, storeDir, "embeddings").limit(0),
                 storeDir, "embeddings",
                 keys = Seq("chunk_id", "embedding_provider"),
                 version = Seq(lit(1)),
                 prune = m => m.join(
                   delDf.select($"doc_id".as("__dd")),
                   substring(col("chunk_id"), 1, 64) === col("__dd"),
                   "left_anti"))
      if (search.VectorIndex.exists(storeDir)) {
        val vecPath = search.VectorIndex.indexPath(storeDir)
        val idxProvider = search.VectorIndex.readMeta(vecPath).provider
        search.VectorIndex.reconcile(spark, vecPath,
          openTable(spark, storeDir, "embeddings")
            .filter($"embedding_provider" === idxProvider),
          "chunk_id", "embedding")
      }
    }
    val sigPath = new java.io.File(s"$storeDir/signatures.parquet")
    val sigsByDoc: Map[String, Long] =
      if (sigPath.exists())
        spark.read.parquet(sigPath.toString)
          .join(delDf.select($"doc_id".as("doc")), Seq("doc"), "left_semi")
          .groupBy($"doc").agg(count(lit(1)).as("n"))
          .as[(String, Long)].collect().toMap
      else Map.empty
    if (sigPath.exists())
      writeTable(spark,
                 spark.read.parquet(sigPath.toString).limit(0),
                 storeDir, "signatures", keys = Seq("doc", "band"),
                 version = Seq(lit(1)),
                 prune = m => m.join(delDf.select($"doc_id".as("doc")),
                                     Seq("doc"), "left_anti"))
    invalidateSearchCache(spark, storeDir, None)
    // THE COMMIT POINT: the tombstone rows — status flipped, content
    // gone, ONE documents swap for the whole set. Each row is stamped
    // strictly after ITS stored updated_at (same-ms delete-after-
    // ingest, or a clock step-back, would otherwise silently lose the
    // upsert's latest-per-key merge and leave content live behind a
    // "deleted" report).
    val tombstone = spark.read.parquet(docsPath.toString)
      .join(delDf, Seq("doc_id"), "left_semi")
      .withColumn("status", lit(Schemas.DocumentStatus.Removed))
      .withColumn("content_b64", lit(null).cast("string"))
      .withColumn("error_message", lit(null).cast("string"))
      .withColumn("metadata_json", lit("{}"))
      .withColumn("updated_at",
        when(lit(now) > $"updated_at", lit(now))
          .otherwise(expr("updated_at + INTERVAL 1 MILLISECOND")))
    writeTable(spark, tombstone, storeDir, "documents",
               keys = Seq("doc_id"), version = Seq(col("updated_at")))
    // ONE runlog entry for the whole batch (spec-pinned): aggregate
    // counts plus the register-rebuild scan bound (see
    // ProfileState.commitAfterDelete — shard-bounded, asserted < the
    // live table in E2eMainSpec).
    appendRunlog(spark, storeDir, "delete",
                 Seq("n_docs_deleted" -> liveIds.size.toLong,
                     "n_chunks_removed" -> chunksByDoc.values.sum,
                     "n_embeddings_removed" -> embByDoc.values.sum,
                     "n_signatures_removed" -> sigsByDoc.values.sum,
                     "n_snapshots_holding" -> holdingPairs.size.toLong) ++
                   regsRescanned.map("n_chunks_rescanned_for_regs" -> _))
    val counts = ids.map(id => id -> ((chunksByDoc.getOrElse(id, 0L),
                                       embByDoc.getOrElse(id, 0L),
                                       sigsByDoc.getOrElse(id, 0L)))).toMap
    (counts, holding, unreadable)
  }

  /** `exportwds <store> <outDir> [nShards]`: MULTIMODAL training
    * export as WebDataset-style tar shards — the raw-bytes twin of
    * [[runExport]]'s text JSONL: every kept doc contributes its
    * ORIGINAL payload under a mime-derived extension, its converted
    * text (when conversion succeeded) as `<key>.txt`, and a small
    * `<key>.json` metadata member, grouped per sample inside
    * `shard-NNNNN.tar` files a trainer streams sequentially. Shard
    * assignment is the engine's deterministic md5 bucket, member order
    * is (shard, doc_id), and the tar writer pins mtime — a re-export
    * is byte-identical ([[graft.io.Wds]]).
    */
  def runExportWds(spark: SparkSession, storeDir: String, outDir: String,
                   nShards: Int = 4): Seq[String] = {
    val docs = openTable(spark, storeDir, "documents")
      .filter(!col("status").isin(Schemas.DocumentStatus.Dead: _*))
    val ext =
      when(col("content_type") === "application/pdf", "pdf")
        .when(col("content_type") === "image/png", "png")
        .when(col("content_type") === "image/jpeg", "jpg")
        .when(col("content_type") === "image/gif", "gif")
        .when(col("content_type") === "image/bmp", "bmp")
        .when(col("content_type") === "audio/wav", "wav")
        .when(col("content_type") === "video/avi", "avi")
        .when(col("content_type") === "text/markdown", "md")
        // text/plain payload must not collide with the converted-text
        // .txt member — the raw source travels as .raw
        .when(col("content_type").startsWith("text/"), "raw")
        .otherwise("bin")
    val rows = graft.ingest.Ingest.convertDocuments(docs).select(
      graft.dedup.Dedup.hashBucket(col("doc_id"), nShards).as("shard"),
      col("doc_id"),
      unbase64(col("content_b64")).as("payload"),
      ext.as("payload_ext"),
      col("text"),
      to_json(struct(col("filename"), col("content_type"),
                     col("status"))).as("meta"))
    // per-row payload extension: Wds entry suffixes are static per
    // column, so write the payload under each extension's own column
    // (exactly one is non-null per row — NULL members are skipped)
    val exts = Seq("pdf", "png", "jpg", "gif", "bmp", "wav", "avi",
                   "md", "raw", "bin")
    val widened = exts.foldLeft(rows) { (d, e) =>
      d.withColumn(s"__p_$e",
        when(col("payload_ext") === e, col("payload")))
    }
    val stats = graft.io.Wds.writeShards(
      spark, widened, "shard", "doc_id",
      exts.map(e => s"__p_$e" -> e) ++ Seq("text" -> "txt", "meta" -> "json"),
      outDir, nShards)
    stats.map { case (shard, n, bytes) =>
      s"""{"shard":$shard,"n_samples":$n,"bytes":$bytes}"""
    }
  }

  /** `dupreport <inDir> [topK]`: PREFLIGHT near-dup triage over a raw
    * upload directory, BEFORE any ingest commits — the "what will
    * dedup do" answer. (Post-ingest the kept store is edge-free by
    * construction: keep-one retains one doc per LSH cluster and prunes
    * demoted signatures, so this diagnosis only exists pre-commit.)
    * The batch converts exactly like an ingest upload, signs with the
    * same 4-band MinHash, and the LSH candidate graph is read two
    * ways: the q171 triangle census (a doc whose neighbors also pair
    * with each other sits in a template/mirror CLIQUE — `clique_docs`
    * counts the docs whose whole neighborhood closes) and q130's
    * fixed-point PageRank (the template CENTERS — the docs to inspect
    * first). One summary line, then the topK hubs by (pr desc, id)
    * with their degree/triangle/coefficient row.
    *
    * Scale shape: edges come from the banded LSH buckets (never
    * all-pairs), the census is degree-oriented (O(m^1.5) no matter how
    * hot a template hub gets), PageRank is 3 Pregel rounds; the edge
    * list is pinned once and feeds both reads.
    */
  def runDupReport(spark: SparkSession, inDir: String,
                   topK: Int = 5): Seq[String] = Pins.scope {
    import graft.operators.Graph
    // pinned: conversion (real PDF/Office/image decode) is the
    // expensive stage, and both the count and the signature build
    // read it
    val docs = pin(Ingest.convertDocuments(
        Ingest.toDocuments(Ingest.readBinaryDir(spark, inDir)))
      .filter(col("text").isNotNull))
    val nDocs = docs.count()
    val edges = pin(graft.dedup.Dedup
      .candidatesFromSigs(graft.dedup.Dedup.minhashSignatures(
        docs, "doc_id", "text", nBands = 4)))
    val tri = pin(Graph.triangleCounts(edges, "a_id", "b_id"))
    // coalesce inside the agg: a clean batch has ZERO edges, so the
    // sums aggregate no rows and return null — the common case must
    // print zeros, not NPE
    val agg = tri.agg(
        count(lit(1)).as("nodes"),
        coalesce(sum(col("tri_cnt")), lit(0L)).as("tri3"),
        coalesce(sum(when(col("deg") >= 2 && col("cc_pm") === 1000, 1L)
                       .otherwise(0L)), lit(0L)).as("clique_docs"))
      .head()
    val summary =
      s"""{"docs":$nDocs,"linked_docs":${agg.getLong(0)},""" +
      s""""edges":${edges.count()},""" +
      s""""triangles":${agg.getLong(1) / 3},""" +
      s""""clique_docs":${agg.getLong(2)}}"""
    // rank hubs by (pr desc, deg desc, id): PageRank is uniform on
    // REGULAR components (a pair and a clique both sit at the base
    // rank), so degree breaks those ties before the id does
    val hubs = Graph.pageRank(edges, "a_id", "b_id", iters = 3)
      .join(tri.select(col("node"), col("tri_cnt"), col("cc_pm")), Seq("node"))
      .orderBy(col("pr").desc, col("deg").desc, col("node")).limit(topK)
      .collect().map { r =>
        s"""{"doc_id":"${jsonEscape(r.getAs[String]("node"))}",""" +
        s""""deg":${r.getAs[Long]("deg")},"pr":${r.getAs[Long]("pr")},""" +
        s""""tri_cnt":${r.getAs[Long]("tri_cnt")},""" +
        s""""cc_pm":${r.getAs[Long]("cc_pm")}}"""
      }.toSeq
    summary +: hubs
  }
}
