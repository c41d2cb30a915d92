package graft.catalog

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Par.par2
import graft.sources.{LogDataWriterFactory, LogWriteMessage,
  SegmentStatsSpec}

/** A log-structured table with snapshot isolation, time travel,
  * compaction, checkpointing and vacuum — the lakehouse transaction
  * pattern of the Delta Lake paper (Armbrust et al., VLDB 2020 —
  * public), reduced to its load-bearing core on plain parquet + a
  * JSON action log:
  *
  *  - the table IS the log: `_log/<version>.json` files, each a list
  *    of `add`/`remove` actions naming immutable parquet data
  *    segments. A snapshot at version V is the replay of actions
  *    0..V — reads never see a half-written commit because data
  *    segments are written BEFORE the version file that publishes
  *    them.
  *  - optimistic concurrency: a commit writes its segments, then
  *    creates `<nextVersion>.json` with create-exclusive semantics —
  *    two writers racing the same version: one wins, the loser gets a
  *    [[ConcurrentCommitException]] and must rebase. (On object
  *    stores without atomic create this slot needs a coordination
  *    service — the paper's §3.2 caveat; local/HDFS create(false) is
  *    atomic.)
  *  - delete/compact are LOGICAL rewrites: new segments added, old
  *    ones removed in the same commit; prior versions stay readable
  *    (time travel) because removed segments are not physically
  *    deleted until [[vacuum]] trims history behind a retention
  *    horizon.
  *  - checkpoints (the paper's §3.3): every [checkpointInterval]
  *    commits, the fully-replayed state (live segment set, max txn
  *    id, vacuum horizon) is snapshotted to
  *    `_log/<version>.checkpoint`. Snapshot resolution then seeds
  *    from the newest checkpoint at-or-below the target version and
  *    replays only the suffix — O(interval) per read/append instead
  *    of O(V), which is what keeps a streaming writer (one commit per
  *    micro-batch) O(1) amortized over thousands of commits. A
  *    checkpoint is a pure function of the immutable log prefix, so
  *    rewriting one is idempotent and its write is best-effort: a
  *    failed checkpoint never fails the commit that triggered it.
  *
  * At 100 TB the wins are the same as the paper's: O(1) commits
  * regardless of table size OR table age, readers pinned to a
  * consistent snapshot while writers land, and compaction fixing
  * small-file pressure without blocking reads. */
class LogStore(spark: SparkSession, val root: String,
    statsCol: Option[String] = None,
    checkpointInterval: Int = 10,
    bloomCol: Option[String] = None,
    bloomBits: Int = 4096,
    statsCols: Seq[String] = Nil,
    dvDeletes: Boolean = false,
    extraProps: Map[String, String] = Map.empty,
    checkpointShardRows: Int = 32768,
    bloomCols: Seq[String] = Nil) {
  require(checkpointInterval > 0, "checkpointInterval must be positive")
  require(bloomBits > 0 && bloomBits % 4 == 0,
    "bloomBits must be a positive multiple of 4 (hex-serialized)")
  // configured column NAMES ride inside quoted log values (the `xs`
  // stats grammar and the `props` table-configuration action), so the
  // line-oriented grammar needs them free of its delimiters
  (statsCol.toSeq ++ bloomCol.toSeq ++ statsCols ++ bloomCols).foreach(c =>
    require(!c.exists("|;\"\n=,".contains(_)),
      s"configured column name '$c' may not contain | ; = , quote " +
        "or newline"))
  // application-level properties (an index's training config, a
  // pipeline's contract version) ride the SAME `props` action — keys
  // must avoid the engine-owned names and both halves the grammar's
  // delimiters
  extraProps.foreach { case (k, v) =>
    require(!LogStore.EngineProps.contains(k),
      s"extra prop '$k' collides with an engine-owned property")
    require(k.nonEmpty && !(k + v).exists(";\"\n=".contains(_)),
      s"extra prop '$k' may not contain ; = quote or newline")
  }

  final class ConcurrentCommitException(v: Long)
    extends RuntimeException(s"version $v was committed concurrently")

  private val logDir = s"$root/_log"
  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionPath(v: Long): Path =
    new Path(f"$logDir/$v%08d.json")
  private def checkpointPath(v: Long): Path =
    new Path(f"$logDir/$v%08d.checkpoint")
  private def checkpointPartPath(v: Long, i: Int): Path =
    new Path(f"$logDir/$v%08d.checkpoint.part-$i")
  private def checkpointBloomPath(v: Long, i: Int): Path =
    new Path(f"$logDir/$v%08d.checkpoint.bloom-$i")
  private def pointerPath: Path = new Path(s"$logDir/_last_checkpoint")

  /** The `_last_checkpoint` pointer (the paper's §3.3): the version of
    * the newest checkpoint, kept in a fixed-name file so resolution
    * starts from ONE O(1) read instead of an O(V) directory listing.
    * Advisory only — stale or missing pointers degrade to the listing
    * path, never to a wrong answer. */
  private def readPointer(): Option[Long] = {
    if (!fs.exists(pointerPath)) return None
    val in = fs.open(pointerPath)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    body.trim.toLongOption
  }

  /** Latest committed version, -1 if the table does not exist.
    * Versions are contiguous (create-exclusive commits), so with a
    * pointer this is a forward probe from the last checkpoint —
    * O(commits since checkpoint) `exists` calls, independent of table
    * age. Without one (young or never-checkpointed table) it falls
    * back to listing the log directory. */
  def latestVersion(): Long = {
    readPointer() match {
      case Some(cp) if fs.exists(versionPath(cp)) =>
        var v = cp
        while (fs.exists(versionPath(v + 1))) v += 1
        v
      case _ =>
        val d = new Path(logDir)
        if (!fs.exists(d)) return -1L
        val vs = fs.listStatus(d).map(_.getPath.getName)
          .filter(_.endsWith(".json"))
          .map(_.stripSuffix(".json").toLong)
        if (vs.isEmpty) -1L else vs.max
    }
  }

  /** Newest checkpoint at-or-below `v`, if any. The pointer answers
    * the hot case (resolving at-or-near latest) in O(1); time travel
    * behind the newest checkpoint takes the listing path — the cold
    * case by construction. */
  private def latestCheckpointAtOrBelow(v: Long): Option[Long] = {
    readPointer() match {
      case Some(cp) if cp <= v && fs.exists(checkpointPath(cp)) =>
        return Some(cp)
      case _ => ()
    }
    val d = new Path(logDir)
    if (!fs.exists(d)) return None
    val cps = fs.listStatus(d).map(_.getPath.getName)
      .filter(_.endsWith(".checkpoint"))
      .map(_.stripSuffix(".checkpoint").toLong)
      .filter(_ <= v)
    if (cps.isEmpty) None else Some(cps.max)
  }

  /** One published segment with its optional [statsCol] min/max —
    * the skipping index — plus per-column bounds for every extra
    * [statsCols] entry (`extra`: column → (min, max, numeric)). Real
    * query mixes prune on more than one dimension (a date AND a key
    * AND a curve index); one column of stats forces every other
    * predicate to open all segments. `num` records whether the bounds
    * compare numerically (stored as strings either way, so the log
    * format stays line-oriented). */
  /** Exact numeric bound compare — BigDecimal, so pruning stays
    * correct at 64-bit integer extremes (String.toDouble rounds past
    * 2^53, and a rounding-induced false non-overlap on the WRITE path
    * — deleteRange, applyChanges — would let rows that should be
    * rewritten silently survive). NaN/Infinity spellings (a double
    * stats column's legal extremes) fall back to IEEE compare, where
    * they are exact by definition. */
  private def numLe(a: String, b: String): Boolean =
    try BigDecimal(a) <= BigDecimal(b)
    catch { case _: NumberFormatException =>
      java.lang.Double.parseDouble(a) <= java.lang.Double.parseDouble(b) }

  final case class Segment(name: String, min: Option[String],
      max: Option[String], num: Boolean,
      bloom: Option[String] = None,
      extra: Map[String, (String, String, Boolean)] = Map.empty,
      rows: Option[Long] = None,
      dv: Option[(String, Long)] = None,
      bxs: Map[String, String] = Map.empty) {
    /** Rows visible in this segment after its deletion vector, when
      * both counts are known. */
    def liveRows: Option[Long] =
      rows.map(n => n - dv.map(_._2).getOrElse(0L))

    /** Could this segment contain a row with statsCol in [lo, hi]?
      * No stats ⇒ must assume yes (the safe default that makes stats
      * strictly an optimization). */
    def mayOverlap(lo: String, hi: String): Boolean = (min, max) match {
      case (Some(mn), Some(mx)) =>
        if (num) numLe(mn, hi) && numLe(lo, mx)
        else mn <= hi && mx >= lo
      case _ => true
    }

    /** The recorded bounds of stats column `c`, whichever slot they
      * ride in (the primary min/max fields or the extra map). */
    def boundsOf(c: String): Option[(String, String, Boolean)] =
      if (statsCol.contains(c)) (min, max) match {
        case (Some(mn), Some(mx)) => Some((mn, mx, num))
        case _ => None
      }
      else extra.get(c)

    /** [[mayOverlap]] generalized to ANY recorded stats column — the
      * same no-stats ⇒ must-scan safe default per column. */
    def mayOverlapOn(c: String, lo: String, hi: String): Boolean =
      boundsOf(c) match {
        case Some((mn, mx, n)) =>
          if (n) numLe(mn, hi) && numLe(lo, mx)
          else mn <= hi && mx >= lo
        case None => true
      }

    /** One-sided [[mayOverlapOn]] forms — the shapes pushed-down
      * comparison filters (`c >= v` / `c <= v`) reduce to. Same safe
      * default: no recorded bounds ⇒ must scan. */
    def mayHaveAtLeast(c: String, lo: String): Boolean =
      boundsOf(c) match {
        case Some((_, mx, n)) => if (n) numLe(lo, mx) else mx >= lo
        case None => true
      }

    def mayHaveAtMost(c: String, hi: String): Boolean =
      boundsOf(c) match {
        case Some((mn, _, n)) => if (n) numLe(mn, hi) else mn <= hi
        case None => true
      }

    /** Could this segment contain a row whose [bloomCol] hashes to
      * these bit positions? A Bloom filter has NO false negatives, so
      * "any queried bit clear" is a PROOF of absence; no bloom ⇒ must
      * assume yes (same safe default as the min/max stats). */
    def mayContain(positions: Seq[Int]): Boolean = bloom match {
      case Some(hex) => LogStore.hexHasBits(hex, positions)
      case None => true
    }

    /** [[mayContain]] generalized to ANY configured Bloom column —
      * the primary [bloomCol]'s hex rides the anonymous `bloom`
      * field, the extra [bloomCols]' hexes ride NAME-KEYED in `bxs`
      * (the same primary-vs-extra split as the min/max stats). Same
      * safe default: no recorded filter ⇒ must scan. */
    def mayContainOn(c: String, positions: Seq[Int]): Boolean =
      if (bloomCol.contains(c)) mayContain(positions)
      else bxs.get(c) match {
        case Some(hex) => LogStore.hexHasBits(hex, positions)
        case None => true
      }
  }

  /** One parsed action file. `dvs` are DELETION-VECTOR attachments:
    * (segment, dv directory, deleted-row count) — an empty directory
    * string clears the vector (restore's undo). */
  private final case class Actions(adds: Seq[Segment],
      removes: Seq[String], txns: Seq[Long], vacs: Seq[Long],
      cdcs: Seq[String], schemas: Seq[String], props: Seq[String],
      dvs: Seq[(String, String, Long)])

  /** Parse one action file (version OR checkpoint — same grammar).
    * One JSON object per line:
    * `{"add":"seg"[,"min":"..","max":"..","num":true]}`,
    * `{"remove":"seg"}`, `{"txn":<id>}` (the idempotent-stream
    * fence), `{"vacuum":<horizon>}` (the oldest still-readable
    * version after a vacuum), `{"cdc":"seg"}` (a change-data
    * segment — the Delta CDF action; per-version EVENT data, never
    * part of the replayed live state, so checkpoints do not carry
    * it), `{"schema":"<base64 StructType json>"}` (the Delta
    * paper's METADATA action: the table schema as log content, so
    * write-side validation and read planning never open data-file
    * footers — base64 keeps the line grammar quote-free), or
    * `{"dv":"seg","dvf":"dv-dir","dvr":N}` (a deletion-vector
    * attachment: merge-on-read point deletes — the segment stays,
    * reads reconcile against the vector; add actions may carry the
    * same `dvf`/`dvr` fields so checkpoints and restores replay DV
    * state). Flat line-oriented JSON on purpose — greppable, and a
    * regex parse with no library dependency. The min/max strings are
    * guaranteed quote-free because [statsCol] is restricted to
    * numeric/date/timestamp columns at write time. */
  private def readFileStr(p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def parseActions(p: Path): Actions = parseBody(readFileStr(p))

  private def parseBody(body: String): Actions = {
    val adds = LogStore.AddLineRe.findAllMatchIn(body).map { m =>
      val extra = Option(m.group(6)).filter(_.nonEmpty)
        .map(_.split(';').map { e =>
          val Array(c, lo, hi, n) = e.split('|')
          c -> (lo, hi, n == "t")
        }.toMap).getOrElse(Map.empty[String, (String, String, Boolean)])
      val bxs = Option(m.group(7)).orElse(Option(m.group(11)))
        .filter(_.nonEmpty)
        .map(_.split(';').map { e =>
          val Array(c, h) = e.split('|')
          c -> h
        }.toMap).getOrElse(Map.empty[String, String])
      Segment(m.group(1), Option(m.group(2)), Option(m.group(3)),
        m.group(4) == "true", Option(m.group(5)), extra,
        Option(m.group(8)).map(_.toLong),
        Option(m.group(9)).filter(_.nonEmpty)
          .map(f => (f, m.group(10).toLong)),
        bxs)
    }.toSeq
    val rem = "\"remove\"\\s*:\\s*\"([^\"]+)\"".r
      .findAllMatchIn(body).map(_.group(1)).toSeq
    val txns = "\"txn\"\\s*:\\s*(-?\\d+)".r
      .findAllMatchIn(body).map(_.group(1).toLong).toSeq
    val vacs = "\"vacuum\"\\s*:\\s*(-?\\d+)".r
      .findAllMatchIn(body).map(_.group(1).toLong).toSeq
    val cdcs = "\"cdc\"\\s*:\\s*\"([^\"]+)\"".r
      .findAllMatchIn(body).map(_.group(1)).toSeq
    val schemas = "\"schema\"\\s*:\\s*\"([A-Za-z0-9+/=]*)\"".r
      .findAllMatchIn(body).map(_.group(1)).toSeq
    val props = "\"props\"\\s*:\\s*\"([^\"]*)\"".r
      .findAllMatchIn(body).map(_.group(1)).toSeq
    val dvs = "\"dv\"\\s*:\\s*\"([^\"]+)\",\"dvf\":\"([^\"]*)\",\"dvr\":(\\d+)".r
      .findAllMatchIn(body).map(m => (m.group(1), m.group(2),
        m.group(3).toLong)).toSeq
    Actions(adds, rem, txns, vacs, cdcs, schemas, props, dvs)
  }

  private def readActions(v: Long): Actions = parseActions(versionPath(v))

  /** Parse checkpoint `cp` — single-file or MULTI-PART. A sharded
    * checkpoint is a small MANIFEST (`{"ckptParts":K,"ckptBlooms":B}`
    * plus the txn/vacuum/schema/props lines), K contiguous
    * `.checkpoint.part-i` files of bloom-stripped add lines (parsed
    * in parallel — resolution latency scales down with cores, not up
    * with table width), and B `.checkpoint.bloom-i` SIDECAR files of
    * `{"add":name,"bloom":hex}` lines. The Bloom hexes are ~90% of a
    * wide checkpoint's bytes but only POINT-LOOKUP shapes consult
    * them, so stats-only resolution (range scans, aggregates, DML
    * bound pruning, appends) skips the sidecars entirely — that is
    * the whole point of the split. `blooms = false` replays segments
    * with `bloom = None`, whose [[Segment.mayContain]] answer is
    * "must scan": forgetting the sidecars is never wrong, only
    * unpruned. */
  private def parseCheckpointActions(cp: Long, blooms: Boolean)
      : Actions = {
    val body = readFileStr(checkpointPath(cp))
    val manifest = parseBody(body)
    // v2 manifest: explicit per-bucket file lists (possibly carrying
    // files from OLDER checkpoints by name — the incremental layout)
    val v2Parts = LogStore.manifestFileList(body, "ckptPartFiles")
    val partPaths: Option[Seq[Path]] = v2Parts match {
      case Some(names) =>
        Some(names.toSeq.filter(_ != "-").map(n => new Path(logDir, n)))
      case None =>
        // v1 manifest: contiguous part files at THIS version
        "\"ckptParts\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(body)
          .map(_.group(1).toInt)
          .map(k => (0 until k).map(checkpointPartPath(cp, _)))
    }
    partPaths match {
      case None => manifest // single-file format: adds are inline
      case Some(paths) =>
        val adds = parsePartPaths(paths)
        val merged =
          if (!blooms) adds
          else {
            val m = v2Parts match {
              case Some(_) =>
                // v2: bloom files listed explicitly in the manifest
                val names = LogStore
                  .manifestFileList(body, "ckptBloomFiles")
                  .map(_.toSeq).getOrElse(Nil).filter(_ != "-")
                names.flatMap(n => parseActions(new Path(logDir, n))
                  .adds.map(s => s.name -> ((s.bloom, s.bxs)))).toMap
              case None => bloomSidecar(cp)
            }
            adds.map { s =>
              if (s.bloom.nonEmpty || s.bxs.nonEmpty) s
              else m.get(s.name) match {
                case Some((b, x)) => s.copy(bloom = b, bxs = x)
                case None => s
              }
            }
          }
        manifest.copy(adds = merged)
    }
  }

  /** Deterministic-order parallel parse of a sharded checkpoint's
    * part files — concatenation by bucket index; buckets are sorted
    * by name internally, so the replayed live set is a pure function
    * of the manifest (validation compares live SETS, never insertion
    * order, which bucketing does not preserve). */
  private def parsePartPaths(paths: Seq[Path]): Seq[Segment] =
    if (paths.isEmpty) Nil
    else if (paths.size == 1) parseActions(paths.head).adds
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(paths.size, 8))
      try {
        val futs = paths.map { p =>
          pool.submit(new java.util.concurrent.Callable[Seq[Segment]] {
            override def call(): Seq[Segment] = parseActions(p).adds
          })
        }
        futs.flatMap(_.get())
      } finally pool.shutdown()
    }

  /** The data part files of the checkpoint at `cp`, when it is
    * SHARDED — v2 manifests list them explicitly (including carried
    * files from older checkpoints), v1 manifests imply a contiguous
    * range at cp's own version. None for single-file checkpoints. */
  private[catalog] def checkpointPartPaths(cp: Long)
      : Option[Seq[Path]] = {
    val body = readFileStr(checkpointPath(cp))
    LogStore.manifestFileList(body, "ckptPartFiles") match {
      case Some(names) =>
        Some(names.toSeq.filter(_ != "-").map(n => new Path(logDir, n)))
      case None =>
        "\"ckptParts\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(body)
          .map(_.group(1).toInt)
          .map(k => (0 until k).map(checkpointPartPath(cp, _)))
    }
  }

  /** The Bloom sidecar map of a sharded checkpoint: segment name →
    * (primary hex, name-keyed extra hexes). Empty for single-file
    * checkpoints (their blooms are inline). */
  private def bloomSidecar(cp: Long)
      : Map[String, (Option[String], Map[String, String])] = {
    val prefix = f"$cp%08d.checkpoint.bloom-"
    val d = new Path(logDir)
    if (!fs.exists(d)) return Map.empty
    fs.listStatus(d).map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .flatMap(p => parseActions(p).adds
        .map(s => s.name -> ((s.bloom, s.bxs))))
      .toMap
  }

  /** The fully-replayed log state at some version: the live segment
    * set (insertion-ordered), the max stream-txn id seen, the vacuum
    * horizon (oldest version whose snapshot is still physically
    * complete; -1 = never vacuumed), and the recorded table schema
    * (base64 StructType json; None on logs written before the
    * metadata action existed). */
  private final case class LogState(
      live: scala.collection.mutable.LinkedHashMap[String, Segment],
      var maxTxn: Long, var vacuumHorizon: Long,
      var schemaB64: Option[String] = None,
      var propsStr: Option[String] = None)

  private def emptyState(): LogState = LogState(
    scala.collection.mutable.LinkedHashMap.empty[String, Segment],
    Long.MinValue, -1L)

  private def applyActions(state: LogState, a: Actions): Unit = {
    a.adds.foreach(x => state.live(x.name) = x)
    a.removes.foreach(state.live -= _)
    // DV attachments re-point a LIVE segment's deletion vector; an
    // empty dv directory clears it (restore's undo)
    a.dvs.foreach { case (seg, f, n) =>
      state.live.get(seg).foreach { s =>
        state.live(seg) =
          s.copy(dv = if (f.isEmpty) None else Some((f, n)))
      }
    }
    a.txns.foreach(t => state.maxTxn = math.max(state.maxTxn, t))
    a.vacs.foreach(h =>
      state.vacuumHorizon = math.max(state.vacuumHorizon, h))
    a.schemas.lastOption.foreach(s => state.schemaB64 = Some(s))
    a.props.lastOption.foreach(p => state.propsStr = Some(p))
  }

  /** Replay the log up to `upTo` inclusive, seeding from the newest
    * checkpoint at-or-below it — O(#actions since checkpoint), never
    * O(V) once the table checkpoints. `blooms = false` (the default)
    * is the STATS-ONLY resolution: a sharded checkpoint's Bloom
    * sidecars are skipped and segments answer `mayContain` with
    * "must scan" — callers that probe Blooms or RE-SERIALIZE
    * segments (point lookup, restore, props clearance, checkpoint
    * writing) must pass true. */
  private def replayTo(upTo: Long, blooms: Boolean = false): LogState = {
    val state = emptyState()
    val from = latestCheckpointAtOrBelow(upTo) match {
      case Some(cp) =>
        applyActions(state, parseCheckpointActions(cp, blooms))
        cp + 1
      case None => 0L
    }
    (from to upTo).foreach { v =>
      // a missing version file means vacuum's LOG TRIM removed the
      // prefix behind the horizon's checkpoint — same loud refusal
      // as time travel behind the horizon, never a raw I/O error
      val a =
        try readActions(v)
        catch { case _: java.io.FileNotFoundException =>
          throw new IllegalStateException(
            s"version $v was log-trimmed by vacuum (behind the " +
              "retention horizon's checkpoint); this snapshot is no " +
              "longer replayable")
        }
      applyActions(state, a)
    }
    state
  }

  /** The trim gate: true iff the checkpoint at `cp` REPLAYS — parsing
    * it yields exactly the state the version files still on disk
    * replay to. Checkpoint writes are best-effort and NON-ATOMIC
    * (`fs.create` then write; a crash mid-write leaves a truncated
    * file the line-regex parser happily reads as FEWER actions), so
    * an existence check alone would let vacuum's log trim delete the
    * only full-replay recovery path and seed every later read from a
    * silently wrong snapshot. Delta guards the same way — a
    * checkpoint is only trusted after a validated write. The truth
    * side replays WITHOUT cp's checkpoint, from the oldest base the
    * already-trimmed prefix forces: version 0 when it survives, else
    * the newest checkpoint at-or-below the oldest surviving version
    * file (the one a previous trim validated before deleting its
    * prefix). Any parse failure, missing file, or state mismatch →
    * false → the trim is skipped, never the vacuum failed. */
  private def checkpointReplayable(cp: Long): Boolean = try {
    val claimed = emptyState()
    applyActions(claimed, parseCheckpointActions(cp, blooms = true))
    replayIndependent(cp) match {
      case None =>
        // No independent base means a PRIOR vacuum's log trim already
        // deleted every version file and checkpoint behind cp — and a
        // trim only ever runs AFTER validating exactly this
        // checkpoint, so the trimmed prefix is itself the evidence of
        // a past validation. Refusing here would wedge every healthy
        // post-trim table (nothing can ever re-derive the deleted
        // prefix). Trust is still gated twice: the on-disk layout
        // must be the one a trim leaves (oldest surviving version
        // file == cp, no older checkpoint — anything else is manual
        // surgery, refuse), and the checkpoint must pass its OWN
        // commit-marker consistency check, which catches a crash
        // that truncated a post-trim rewrite of the file.
        prefixTrimmedTo(cp) &&
          checkpointSelfConsistent(cp).getOrElse(true)
      case Some(truth) =>
        // live SETS compare sorted by name: a bucketed (incremental)
        // checkpoint does not preserve insertion order, which is not
        // a semantic property of the live state
        claimed.live.toSeq.sortBy(_._1) ==
          truth.live.toSeq.sortBy(_._1) &&
          claimed.maxTxn == truth.maxTxn &&
          claimed.vacuumHorizon == truth.vacuumHorizon &&
          claimed.schemaB64 == truth.schemaB64 &&
          claimed.propsStr == truth.propsStr
    }
  } catch { case scala.util.control.NonFatal(_) => false }

  /** The on-disk layout a vacuum log trim leaves behind `cp`: the
    * oldest surviving version file IS cp and no older checkpoint
    * survives. Only this exact shape earns validated-by-the-prior-trim
    * trust — a hand-deleted prefix does not match it (trims delete
    * the full prefix or nothing). */
  private def prefixTrimmedTo(cp: Long): Boolean = try {
    val names = fs.listStatus(new Path(logDir)).map(_.getPath.getName)
    val jsonVs = names.filter(_.endsWith(".json"))
      .flatMap(_.stripSuffix(".json").toLongOption)
    jsonVs.nonEmpty && jsonVs.min == cp &&
      !names.filter(_.endsWith(".checkpoint"))
        .flatMap(_.stripSuffix(".checkpoint").toLongOption)
        .exists(_ < cp)
  } catch { case scala.util.control.NonFatal(_) => false }

  /** Self-consistency verdict from the checkpoint alone: the
    * `ckptAdds` commit marker vs the actually-parsed add count —
    * Some(false) is proof of truncation/corruption (or an unreadable
    * part file), Some(true) proof the full live set is present; None
    * on pre-marker checkpoints (no verdict either way). */
  private def checkpointSelfConsistent(cp: Long): Option[Boolean] =
    try {
      "\"ckptAdds\"\\s*:\\s*(\\d+)".r
        .findFirstMatchIn(readFileStr(checkpointPath(cp)))
        .map(_.group(1).toLong)
        .map(_ ==
          parseCheckpointActions(cp, blooms = false).adds.size.toLong)
    } catch { case scala.util.control.NonFatal(_) => Some(false) }

  /** Replay to `upTo` WITHOUT trusting the checkpoint at `upTo`:
    * seeds from version 0 when it survives, else from the newest
    * OLDER checkpoint the already-trimmed prefix forces (one a
    * previous trim validated before deleting its prefix). None when
    * no independent base exists or a needed file is unreadable. */
  private def replayIndependent(upTo: Long): Option[LogState] = try {
    val truth = emptyState()
    val names = fs.listStatus(new Path(logDir)).map(_.getPath.getName)
    val jsonVs = names.filter(_.endsWith(".json"))
      .flatMap(_.stripSuffix(".json").toLongOption)
    if (jsonVs.isEmpty) return None
    val minJson = jsonVs.min
    val from =
      if (minJson == 0) 0L
      else {
        val bases = names.filter(_.endsWith(".checkpoint"))
          .flatMap(_.stripSuffix(".checkpoint").toLongOption)
          .filter(c => c <= minJson && c < upTo)
        if (bases.isEmpty) return None
        applyActions(truth,
          parseCheckpointActions(bases.max, blooms = true))
        bases.max + 1
      }
    (from to upTo).foreach(v => applyActions(truth, readActions(v)))
    Some(truth)
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Validate-and-HEAL gate for a checkpoint a deletion pass is about
    * to replay through: a crash-truncated checkpoint replays to a
    * SUBSET of the live set, and a keep-set computed from that subset
    * would physically delete live segments. When the checkpoint does
    * not faithfully replay, it is REWRITTEN from an independent
    * replay of the version files (the content is a pure function of
    * the immutable prefix, so overwrite is safe); when no independent
    * base survives to repair from, the caller must refuse. */
  private def repairCheckpointIfNeeded(cp: Long): Unit = {
    if (checkpointReplayable(cp)) return
    replayIndependent(cp) match {
      case Some(truth) =>
        System.err.println(s"[logstore] checkpoint $cp at $root did " +
          "not faithfully replay its version files (likely a crashed " +
          "checkpoint write) — rewritten from the surviving log")
        writeCheckpointFile(cp, truth)
      case None => throw new IllegalStateException(
        s"checkpoint $cp at $root does not replay and no independent " +
          "version-file base survives to repair it from — refusing " +
          "to continue (restore the _log directory from backup)")
    }
  }

  private def encodeSchema(s: org.apache.spark.sql.types.StructType)
      : String = java.util.Base64.getEncoder.encodeToString(
    s.json.getBytes(StandardCharsets.UTF_8))

  private def decodeSchema(b: String)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(
      new String(java.util.Base64.getDecoder.decode(b),
        StandardCharsets.UTF_8))
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** The table schema RECORDED IN THE LOG at `version` (the metadata
    * action), when one exists — the cumulative union of every
    * appended shape up to that version. None only on logs written
    * before schema stamping existed. */
  def recordedSchema(version: Long = Long.MaxValue)
      : Option[org.apache.spark.sql.types.StructType] = {
    val latest = latestVersion()
    if (latest < 0) return None
    replayTo(math.min(version, latest)).schemaB64.map(decodeSchema)
  }

  /** This store's skipping configuration serialized as the `props`
    * table-configuration action — `k=v` pairs joined by `;` (column
    * names are delimiter-checked at construction, bloomBits is a
    * number): the statsCol / statsCols / bloomCol / bloomBits a writer
    * was constructed with, recorded as LOG CONTENT so a reader that
    * knows only the table PATH (the DSv2 connector, a new team, a
    * different codebase) can reconstruct the skipping setup instead of
    * guessing which segment-stat belongs to which column. None when
    * nothing is configured. */
  private def encodeProps: Option[String] =
    LogStore.encodePropsFrom(statsCol, statsCols, bloomCol, bloomBits,
      dvDeletes, extraProps, bloomCols)

  /** One recorded table property by key — engine-owned or extra; the
    * read half of [[extraProps]] (an index's training config read back
    * from the PATH alone). */
  def recordedProp(key: String,
      version: Long = Long.MaxValue): Option[String] =
    recordedProps(version).toSeq
      .flatMap(_.split(';').iterator.filter(_.contains('=')))
      .collectFirst {
        case e if e.take(e.indexOf('=')) == key =>
          e.drop(e.indexOf('=') + 1)
      }

  /** Whether this table opted into MERGE-ON-READ deletes (the
    * `dvDeletes` table property): declarative delete surfaces (SQL
    * DELETE FROM) route row deletes through [[deleteWhereDV]] /
    * [[deleteRangeDV]] instead of copy-on-write segment rewrites. */
  def dvDeleteMode: Boolean = dvDeletes

  /** The table configuration RECORDED IN THE LOG at `version` (the
    * `props` action) — the raw `k=v;…` string; None on tables whose
    * writers carried no skipping config (or predate stamping). */
  def recordedProps(version: Long = Long.MaxValue): Option[String] = {
    val latest = latestVersion()
    if (latest < 0) return None
    replayTo(math.min(version, latest)).propsStr
  }

  /** The columns this store records skipping stats for (primary +
    * extras) — what a pushdown layer may prune on. */
  def configuredStatsColumns: Seq[String] =
    (statsCol.toSeq ++ statsCols).distinct

  /** The column this store builds per-segment Bloom filters over. */
  def configuredBloomColumn: Option[String] = bloomCol

  /** Every Bloom-filtered column — the primary plus the name-keyed
    * extras, in config order. */
  def configuredBloomColumns: Seq[String] =
    (bloomCol.toSeq ++ bloomCols).distinct

  /** Snapshot the fully-replayed state at version `v` to
    * `_log/<v>.checkpoint` — same line-JSON grammar as version files.
    * Idempotent (the content is a function of the immutable prefix
    * 0..v), so overwrite is safe; public so operators that batch many
    * raw commits (or a maintenance job) can checkpoint on their own
    * cadence. */
  def checkpoint(v: Long = Long.MaxValue): Unit = {
    val latest = latestVersion()
    require(latest >= 0, s"no log at $root")
    val at = math.min(v, latest)
    // the seed replays STATS-ONLY: a checkpoint seeded from a prior
    // SHARDED checkpoint must carry the sidecar hexes forward (or
    // rewriting would silently shed every filter), but fetching them
    // is deferred into the write itself, which reads only the buckets
    // it will re-serialize — carried buckets' hexes never leave their
    // original files
    val seed = latestCheckpointAtOrBelow(at)
    writeCheckpointFile(at, replayTo(at, blooms = false),
      carryFrom = seed.filter(_ < at), seedCkpt = seed)
  }

  /** Serialize a replayed state as the checkpoint at `at`. Up to
    * [checkpointShardRows] live segments it is ONE file, exactly the
    * historical format. Past that it SHARDS Delta-style: HASH-BUCKETED
    * `.checkpoint.part-i` files of bloom-stripped add lines, Bloom
    * hexes moved into per-bucket `.checkpoint.bloom-i` SIDECARS, and a
    * small manifest (the explicit `ckptPartFiles`/`ckptBloomFiles`
    * lists + txn/vacuum/schema/props) written LAST into the
    * `.checkpoint` name itself — manifest existence is the commit
    * point, so a crash mid-shard leaves orphan part files (reclaimed
    * by a later rewrite or trim) but never a half-visible checkpoint.
    *
    * The bucketing is what makes checkpoints INCREMENTAL (Delta's
    * v2-checkpoint sidecar-carry-over idea): a segment's bucket is a
    * pure function of its NAME, so a commit only dirties the buckets
    * of the segments it touched. When `carryFrom` names the previous
    * checkpoint (same bucket count), every CLEAN bucket's part and
    * bloom file is referenced BY NAME from the new manifest instead of
    * rewritten — bytes written per checkpoint ∝ changed segments, not
    * live segments, which at 10⁶ segments is the difference between
    * ~100 MB and ~1 MB per checkpoint interval. Vacuum's log trim
    * parses surviving manifests and protects carried files until no
    * manifest references them. Bucket count is a power of two sized
    * from [[LogStore.CheckpointBucketRows]] (so it changes only at
    * table-size doublings — a K change forces one full rewrite,
    * amortized);
    * buckets are sorted by segment name internally, so a checkpoint's
    * content is a pure function of (live set, K) and validation
    * compares live SETS, not insertion order.
    *
    * At 10⁶ segments this also keeps stats-only resolution reads ~10×
    * lighter than the monolithic form (the hex is ~90% of an add
    * line's weight) and lets the part parse fan out across cores. */
  private def writeCheckpointFile(at: Long, st: LogState,
      carryFrom: Option[Long] = None,
      seedCkpt: Option[Long] = None): Unit = {
    // Hexes may be MISSING on segments that rode in from a STATS-ONLY
    // (blooms = false) seed — `seedCkpt` names that checkpoint, and
    // its sidecars are fetched here before any bucket serializes.
    // `restrict` narrows the fetch to the given bucket indices when
    // the seed's sidecar layout is aligned with the current bucket
    // count — the incremental case: clean buckets are carried by NAME
    // and never re-serialized, so only DIRTY buckets' hexes are ever
    // read. That makes the checkpoint's READ cost ∝ delta too, not
    // just its write cost. A fetch failure degrades to missing hexes
    // (conservative must-scan), the same class as a lost sidecar.
    def fillHexesFromSeed(k: Int, restrict: Option[Set[Int]]): Unit =
      seedCkpt.foreach { scp =>
        try {
          val body = readFileStr(checkpointPath(scp))
          val files: Seq[Path] =
            LogStore.manifestFileList(body, "ckptBloomFiles") match {
              case Some(names) =>
                (restrict match {
                  case Some(bs) if names.length == k =>
                    bs.toSeq.sorted.map(names(_))
                  case _ => names.toSeq
                }).filter(_ != "-").map(n => new Path(logDir, n))
              case None =>
                // v1 sharded seed: prefix-listed sidecars; a
                // SINGLE-FILE seed carries hexes inline (stats-only
                // replay keeps them — nothing to fill)
                if (!body.contains("\"ckptParts\"")) Nil
                else {
                  val prefix = f"$scp%08d.checkpoint.bloom-"
                  fs.listStatus(new Path(logDir)).map(_.getPath)
                    .filter(_.getName.startsWith(prefix)).toSeq
                }
            }
          if (files.nonEmpty) {
            val m = files.flatMap(p => parseActions(p).adds
              .map(s => s.name -> ((s.bloom, s.bxs)))).toMap
            st.live.mapValuesInPlace { (_, s) =>
              if (s.bloom.nonEmpty || s.bxs.nonEmpty) s
              else m.get(s.name) match {
                case Some((b, x)) => s.copy(bloom = b, bxs = x)
                case None => s
              }
            }
          }
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    // stream line-by-line: one buffered write per line, never a
    // whole-file mkString — a monolithic 10⁶-segment checkpoint is
    // ~1.1 GB, which overflows a single StringBuilder (and would pin
    // the driver heap even where it fits).
    // Every file lands via WRITE-TO-TEMP + RENAME (atomic on
    // local/HDFS): the target NAME never exists in a partial state.
    // This matters most for the manifest — `fs.create(path)` makes an
    // EMPTY .checkpoint visible before the ckptParts line is written,
    // and an empty manifest parses as a valid zero-add single-file
    // checkpoint, so a concurrent reader catching that window would
    // replay from an empty live set (worse than truncation, which
    // loses only a suffix). Temp names are `_tmp-*`, which no listing
    // (checkpoint, sidecar, trim version-parse) ever matches; crash
    // orphans are reclaimed by vacuum's log trim.
    def write(p: Path, lines: Iterable[String]): Unit = {
      val tmp = new Path(logDir,
        s"_tmp-${java.util.UUID.randomUUID().toString.take(12)}")
      val out = new java.io.BufferedOutputStream(fs.create(tmp, true),
        1 << 20)
      try lines.foreach { l =>
        out.write(l.getBytes(StandardCharsets.UTF_8))
        out.write('\n')
      } finally out.close()
      if (!fs.rename(tmp, p)) {
        // idempotent rewrite of an existing checkpoint: some
        // FileSystems refuse rename-onto-existing — replace explicitly
        fs.delete(p, false)
        if (!fs.rename(tmp, p))
          throw new java.io.IOException(s"rename $tmp -> $p failed")
      }
    }
    // the COMMIT MARKER: the live-set size, written as the manifest's
    // (or single file's) first line. Parsed-adds-vs-marker mismatch is
    // proof of corruption from the checkpoint alone — what lets a
    // post-log-trim vacuum (no independent replay base left) still
    // distinguish a healthy checkpoint from a truncated one.
    val marker = Seq(s"""{"ckptAdds":${st.live.size}}""")
    val small =
      (if (st.maxTxn != Long.MinValue) Seq(s"""{"txn":${st.maxTxn}}""")
       else Nil) ++
      (if (st.vacuumHorizon >= 0)
         Seq(s"""{"vacuum":${st.vacuumHorizon}}""")
       else Nil) ++
      st.schemaB64.map(s => s"""{"schema":"$s"}""").toSeq ++
      st.propsStr.map(p => s"""{"props":"$p"}""").toSeq
    if (st.live.size <= checkpointShardRows) {
      fillHexesFromSeed(1, None)
      write(checkpointPath(at),
        marker ++ st.live.values.view.map(addJson) ++ small)
    } else {
      // bucket granularity: [[LogStore.CheckpointBucketRows]] per
      // bucket, never coarser than the shard threshold itself
      // (spec-sized configs with tiny thresholds still get real
      // multi-part layouts)
      val bucketRows =
        math.min(LogStore.CheckpointBucketRows, checkpointShardRows)
      // previous checkpoint's bucket layout, when it is v2 — both the
      // carry source and the K-stickiness anchor
      val prevLists: Option[(Long, Array[String], Array[String])] =
        carryFrom.flatMap { pcp =>
          try {
            val body = readFileStr(checkpointPath(pcp))
            (LogStore.manifestFileList(body, "ckptPartFiles"),
              LogStore.manifestFileList(body, "ckptBloomFiles")) match {
              case (Some(p), Some(b)) if p.length == b.length &&
                  p.nonEmpty => Some((pcp, p, b))
              case _ => None
            }
          } catch { case scala.util.control.NonFatal(_) => None }
        }
      // K is STICKY: keep the previous bucket count while the average
      // bucket stays under 2× the target — otherwise a table hovering
      // at a power-of-two boundary would flap between layouts and
      // every flap is a full rewrite. Fresh layouts size from the
      // target directly.
      val k = prevLists.map(_._2.length) match {
        case Some(prevK) if st.live.size <= 2L * prevK * bucketRows =>
          prevK
        case _ => LogStore.bucketCountFor(st.live.size, bucketRows)
      }
      // carry-over: reference the previous checkpoint's file for every
      // bucket no commit since then touched. Any parse failure or
      // shape mismatch (different K, pre-v2 manifest, missing files)
      // degrades to a FULL rewrite — carry is strictly an optimization.
      val carried: Map[Int, (String, String)] = prevLists.flatMap {
        case (pcp, parts, blooms) if parts.length == k =>
          try {
            // dirty = every bucket touched by a commit in (pcp, at]
            val touched = (pcp + 1 to at).iterator.flatMap { v =>
              val a = readActions(v)
              a.adds.iterator.map(_.name) ++ a.removes.iterator ++
                a.dvs.iterator.map(_._1)
            }
            val dirty = touched.map(LogStore.bucketOf(_, k)).toSet
            Some((0 until k).iterator
              .filterNot(dirty.contains)
              .map(i => i -> ((parts(i), blooms(i)))).toMap)
          } catch { case scala.util.control.NonFatal(_) => None }
        case _ => None
      }.getOrElse(Map.empty)
      // sidecar hexes only for the buckets about to be SERIALIZED —
      // carried buckets' hexes stay in their original files, unread
      fillHexesFromSeed(k,
        if (carried.isEmpty) None
        else Some((0 until k).toSet -- carried.keySet))
      // bucket membership is a pure function of the segment NAME —
      // the content-stable sharding that makes carry-over sound
      val byBucket = st.live.values.toSeq
        .groupBy(s => LogStore.bucketOf(s.name, k))
        .view.mapValues(_.sortBy(_.name)).toMap
      // dirty buckets serialize AND write in PARALLEL (independent
      // files; lines stay lazy per bucket, so only ~poolSize buckets'
      // strings are ever resident); the manifest still lands LAST,
      // strictly after every part — its existence is the commit
      // point, so a crash mid-fan-out stays invisible
      val partNames = new Array[String](k)
      val bloomNames = new Array[String](k)
      carried.foreach { case (i, (p, b)) =>
        partNames(i) = p; bloomNames(i) = b
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        def task(body: => Unit) =
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = body
          })
        val futs = (0 until k).filterNot(carried.contains).map { i =>
          val bucket = byBucket.getOrElse(i, Nil)
          val withBloom = bucket.filter(s =>
            s.bloom.nonEmpty || s.bxs.nonEmpty)
          partNames(i) =
            if (bucket.isEmpty) "-"
            else checkpointPartPath(at, i).getName
          bloomNames(i) =
            if (withBloom.isEmpty) "-"
            else checkpointBloomPath(at, i).getName
          task {
            if (bucket.nonEmpty)
              write(checkpointPartPath(at, i),
                bucket.view.map(s => addJson(s.copy(bloom = None,
                  bxs = Map.empty))))
            if (withBloom.nonEmpty)
              write(checkpointBloomPath(at, i),
                withBloom.view.map(s => addJson(Segment(s.name, None,
                  None, num = false, bloom = s.bloom, bxs = s.bxs))))
          }
        }
        futs.foreach(_.get())
      } finally pool.shutdown()
      write(checkpointPath(at),
        marker ++
          (Seq(s"""{"ckptPartFiles":"${partNames.mkString(",")}"}""",
            s"""{"ckptBloomFiles":"${bloomNames.mkString(",")}"}""") ++
            small))
    }
    // advance (never regress) the `_last_checkpoint` pointer; a
    // checkpoint of an old version must not point resolution backwards
    if (readPointer().forall(_ < at)) {
      val p = fs.create(pointerPath, true)
      try p.write(s"$at\n".getBytes(StandardCharsets.UTF_8))
      finally p.close()
    }
  }

  /** Checkpoint trigger: every [checkpointInterval]-th commit, best
    * effort — a failed checkpoint write must never fail the commit
    * that landed (the next trigger will cover for it). */
  private def maybeCheckpoint(v: Long): Unit =
    if (v > 0 && v % checkpointInterval == 0)
      try checkpoint(v)
      // NonFatal, not just IOException: a corrupt log line surfaces as
      // NumberFormatException, Hadoop wraps I/O in RuntimeExceptions —
      // none of them may fail a commit that already durably landed
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[logstore] checkpoint at $v failed: $e") }

  /** Loud refusal of reads behind the vacuum horizon: those
    * snapshots may reference physically-deleted segments, and an
    * empty-or-partial read masquerading as a snapshot is the one
    * failure mode a transactional table must not have. */
  private def requireReadable(upTo: Long, horizon: Long): Unit =
    if (upTo < horizon)
      throw new IllegalStateException(
        s"version $upTo was vacuumed (retention horizon $horizon); " +
          "time travel is only complete at or after the horizon")

  /** The live segment set (with stats) at `version` (default:
    * latest): checkpoint-seeded replay — O(actions since the last
    * checkpoint), independent of data size AND table age. `blooms`
    * opts into fetching a sharded checkpoint's Bloom sidecars —
    * stats-only callers (the default) never pay for the hexes; a
    * bloom-less segment conservatively answers "must scan". */
  def liveSegmentInfos(version: Long = Long.MaxValue,
      blooms: Boolean = false): Seq[Segment] = {
    val latest = latestVersion()
    require(latest >= 0, s"no log at $root")
    val upTo = math.min(version, latest)
    require(upTo >= 0, s"bad version $version")
    val latestState = replayTo(latest, blooms)
    if (upTo == latest) return latestState.live.values.toSeq
    requireReadable(upTo, latestState.vacuumHorizon)
    replayTo(upTo, blooms).live.values.toSeq
  }

  def liveSegments(version: Long = Long.MaxValue): Seq[String] =
    liveSegmentInfos(version).map(_.name)

  /** The recorded commit wall-clock of version `v`: the in-log `ts`
    * action stamped by [[commit]] — durable log CONTENT, so time
    * resolution survives a `cp -r`, an object-store upload or any
    * backup that rewrites file mtimes. Logs written before stamping
    * existed fall back to the version file's mtime (the best
    * available evidence there). */
  private def commitTimeOf(v: Long): Long = {
    val in = fs.open(versionPath(v))
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    "\"ts\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(body)
      .map(_.group(1).toLong)
      .getOrElse(fs.getFileStatus(versionPath(v)).getModificationTime)
  }

  /** TIMESTAMP AS OF resolution — the other half of time travel: the
    * newest version whose recorded commit time ([[commitTimeOf]] —
    * in-log stamp, mtime fallback for pre-stamp logs) is at-or-before
    * `tsMillis`. Commit times are nondecreasing in version (commits
    * are sequential), so this is a backward walk from latest —
    * O(versions newer than ts), the cold path by construction. A
    * timestamp predating the table refuses loudly; one behind the
    * vacuum horizon refuses at read time via the same guard as
    * numeric time travel. */
  def versionAsOf(tsMillis: Long): Long = {
    val latest = latestVersion()
    require(latest >= 0, s"no log at $root")
    var v = latest
    // the walk may reach log-trimmed territory (vacuum deleted
    // version files behind the horizon's checkpoint): the instant
    // then resolves to an unreadable snapshot — the same loud refusal
    // as numeric time travel behind the horizon
    while (v >= 0 && fs.exists(versionPath(v)) &&
        commitTimeOf(v) > tsMillis)
      v -= 1
    require(v >= 0,
      s"timestamp $tsMillis predates the table's first commit")
    if (!fs.exists(versionPath(v)))
      throw new IllegalStateException(
        s"timestamp $tsMillis resolves behind the vacuum horizon " +
          "(its version files were trimmed); time travel is only " +
          "complete at or after the horizon")
    v
  }

  /** Snapshot read at a wall-clock instant ("what did the table say
    * yesterday 09:00"): [[read]] at [[versionAsOf]]. */
  def readAsOf(tsMillis: Long): DataFrame = read(versionAsOf(tsMillis))

  /** The last stream-transaction id recorded in the log, or
    * Long.MinValue — the replay fence of [[appendStream]] (the
    * paper's `txn` action). Checkpoint-seeded: O(actions since the
    * last checkpoint) per micro-batch, not O(V). */
  def lastTxn(): Long = {
    val latest = latestVersion()
    if (latest < 0) return Long.MinValue
    replayTo(latest).maxTxn
  }

  /** Snapshot read at `version` (default latest) — a parquet scan of
    * exactly the live segments; committed-but-then-removed segments
    * of later versions are invisible, uncommitted segments always
    * are. Reads merge segment schemas (the paper's schema EVOLUTION:
    * a column added by a later append reads as null on older
    * segments; the snapshot's schema is the union of what its OWN
    * segments carry, so time travel returns the old shape), and
    * [[append]] enforces that shared columns never mutate type. */
  /** Exact visible row count at `version` served from the log's
    * recorded per-segment row counts minus deletion-vector rows —
    * O(segments) driver metadata, zero data reads, zero Spark jobs
    * (the aggregate-pushdown answer to COUNT(*) the `rows` stamp on
    * every add action exists for). Falls back to counting the data
    * when any live segment predates the stamp (legacy logs). */
  def countRows(version: Long = Long.MaxValue): Long = {
    val segs = liveSegmentInfos(version)
    if (segs.forall(_.liveRows.nonEmpty)) segs.flatMap(_.liveRows).sum
    else read(version).count()
  }

  def read(version: Long = Long.MaxValue): DataFrame = {
    val segs = liveSegmentInfos(version)
    if (segs.isEmpty)
      // a CREATED-but-empty table (schema recorded, no segments yet —
      // the CREATE TABLE → INSERT flow) reads as zero rows of its
      // recorded shape; a directory with no log at all stays a loud
      // error (liveSegmentInfos threw above)
      return recordedSchema(version) match {
        case Some(sc) => spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), sc)
        case None =>
          throw new IllegalStateException(s"empty table at $root")
      }
    scanSegments(segs, version)
  }

  /** The DV-AWARE segment scan every read path funnels through: the
    * rows of `segs` minus their deletion vectors. Segments without a
    * vector scan exactly as before (zero overhead — the common case
    * stays one plain parquet scan); segments WITH one reconcile by an
    * anti-join of (file, position) against their dv parquet — the
    * merge-on-read half of [[deleteWhereDV]]. Positions come from the
    * file source's `_metadata.row_index`, which is file-global and
    * stable because segments are immutable.
    *
    * The DV side is tiny by construction (∝ deleted rows), so the
    * join broadcasts — UP TO [[LogStore.DvBroadcastRowLimit]] recorded
    * vector rows. Past it (compaction neglected while scattered
    * deletes accumulated), forcing a broadcast would OOM the driver
    * long before the data became unreadable; the hint is dropped and
    * the anti-join runs shuffled, bounded by executor memory instead.
    * [[maintainLayout]]'s vector-pressure rule exists so tables never
    * live in that regime for long.
    *
    * `segs` must be live at `version`, and the scan plans from the
    * schema RECORDED at `version`: zero data-file footers opened,
    * whatever the segment count (the metadata-action payoff), and
    * parquet fills a column a segment predates with null, which is
    * exactly the evolution semantics. Only a pre-stamp log, which
    * records no schema, falls back to a `mergeSchema` footer-inference
    * job. */
  private def scanSegments(segs: Seq[Segment], version: Long)
      : DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col => fcol,
      element_at, lit => flit, split => fsplit}
    // column mapping: data files hold PHYSICAL names — read with the
    // physical schema (parquet matches by name; a renamed column's
    // old files match its stable physical name, a re-added column's
    // fresh col-uuid matches nothing old → null, exactly the
    // no-resurrection contract), then project back to LOGICAL names
    // once, after the dv reconciliation. Mapped tables always record
    // a schema (the mapping lives in it).
    val schema = recordedSchema(version)
    val mapped = schema.filter(LogStore.hasMapping)
    def rawRead(names: Seq[String]): DataFrame = schema match {
      case Some(sc) => spark.read
        .schema(LogStore.physicalSchema(sc))
        .parquet(names.map(s => s"$root/$s"): _*)
      case None => spark.read.option("mergeSchema", "true")
        .parquet(names.map(s => s"$root/$s"): _*)
    }
    def toLogical(df: DataFrame): DataFrame = mapped match {
      case Some(sc) =>
        df.select(sc.fields.toSeq.map { f =>
          val p = LogStore.physicalName(f)
          if (df.columns.contains(p)) fcol(p).as(f.name)
          else flit(null).cast(f.dataType).as(f.name)
        }: _*)
      case None => df
    }
    val (dved, plain) = segs.partition(_.dv.nonEmpty)
    val plainDf =
      if (plain.isEmpty) None else Some(rawRead(plain.map(_.name)))
    val dvedDf =
      if (dved.isEmpty) None
      else {
        val base = rawRead(dved.map(_.name))
          .withColumn("_dv_seg",
            element_at(fsplit(fcol("_metadata.file_path"), "/"), -2))
          .withColumn("_dv_file", fcol("_metadata.file_name"))
          .withColumn("_dv_pos", fcol("_metadata.row_index"))
        // dv files have ONE writer and a fixed shape — the explicit
        // schema skips the footer-inference job every DV-aware scan
        // otherwise pays
        val dvRows = spark.read
          .schema(LogStore.dvSchema)
          .parquet(dved.flatMap(s =>
            s.dv.map(d => s"$root/${d._1}")): _*)
          .withColumn("_dv_seg",
            element_at(fsplit(fcol("_metadata.file_path"), "/"), -2))
        // dv files carry (file, pos); their own directory name — the
        // dv dir — maps back to the segment via the live state
        val dvToSeg = dved.flatMap(s =>
          s.dv.map(d => (d._1, s.name))).toMap
        val mapped = {
          import org.apache.spark.sql.functions.typedLit
          dvRows.withColumn("_dv_seg",
            element_at(typedLit(dvToSeg), fcol("_dv_seg")))
        }
        val dvSide = mapped.select(fcol("_dv_seg"),
          fcol("file").as("_dv_file"), fcol("pos").as("_dv_pos"))
        // recorded per-vector row counts bound the broadcast decision
        // without touching the dv parquet; the ceiling is operator-
        // tunable per session (driver heap budgets differ)
        val totalDvRows = dved.flatMap(_.dv.map(_._2)).sum
        val limit = spark.conf.getOption("graft.dv.broadcastRowLimit")
          .map(_.toLong).getOrElse(LogStore.DvBroadcastRowLimit)
        val joined =
          if (totalDvRows <= limit)
            base.join(broadcast(dvSide),
              Seq("_dv_seg", "_dv_file", "_dv_pos"), "left_anti")
          else base.join(dvSide,
            Seq("_dv_seg", "_dv_file", "_dv_pos"), "left_anti")
        Some(joined.drop("_dv_seg", "_dv_file", "_dv_pos"))
      }
    toLogical((plainDf, dvedDf) match {
      // allowMissingColumns: on a pre-stamp log each group merges its
      // OWN segments' schemas, so per-segment evolution drift across
      // the plain/DV split must null-fill, exactly as the single
      // mergeSchema scan did before the split existed
      case (Some(p), Some(d)) =>
        p.unionByName(d, allowMissingColumns = true)
      case (Some(p), None) => p
      case (None, Some(d)) => d
      case (None, None) =>
        throw new IllegalStateException("scanSegments on no segments")
    })
  }

  /** Schema ENFORCEMENT (the paper's write-side half of evolution):
    * an append may ADD columns — evolution, old rows read null — but
    * a shared column must keep its exact type; silently coexisting
    * (id INT) and (id STRING) segments is the data-lake corruption
    * mode transactional tables exist to prevent. Validation runs
    * against the schema RECORDED IN THE LOG at the writer's base
    * version (the metadata action — O(replay), no data-file footer is
    * ever opened; pre-stamp logs derive it once from a read and stamp
    * it), and the optimistic-concurrency stance holds: a conflicting
    * concurrent commit is the commit slot's problem, not the
    * validator's. Returns the metadata actions this write must
    * commit: the schema action (Some(b64) when it initializes,
    * evolves, or back-fills the recorded schema; None when already
    * covered) and the props action (Some when this writer carries a
    * skipping configuration the log does not yet record — the
    * table-properties stamp rides the same write-side gate). */
  private[graft] def enforceSchema(
      writeSchema: org.apache.spark.sql.types.StructType, version: Long)
      : (Option[String], Option[String]) = {
    val propsAct = encodeProps // compared against the recorded below
    if (version < 0) return (Some(encodeSchema(writeSchema)), propsAct)
    val st = replayTo(math.min(version, latestVersion()))
    val current = st.schemaB64.map(decodeSchema)
      .getOrElse(read(version).schema) // legacy pre-stamp log
    writeSchema.fields.foreach { f =>
      current.find(_.name == f.name).foreach { c =>
        if (c.dataType != f.dataType)
          throw new IllegalArgumentException(
            s"schema enforcement: column '${f.name}' is ${c.dataType} " +
              s"in the table but ${f.dataType} in the write — an " +
              "evolved table adds columns, it never mutates types")
      }
    }
    val retired = LogStore.retiredPhysical(st.propsStr)
    val newCols = writeSchema.fields
      .filterNot(f => current.fieldNames.contains(f.name))
      .map(assignPhysical(_, current, retired))
    val schemaAct =
      if (newCols.isEmpty && st.schemaB64.nonEmpty) None
      else Some(encodeSchema(org.apache.spark.sql.types.StructType(
        current.fields ++ newCols)))
    (schemaAct, propsAct.filterNot(st.propsStr.contains))
  }

  /** Every column the skipping machinery keys on — the RECORDED
    * config union this handle's constructor config. Rename/drop of
    * one refuses (bounds and Bloom filters key on the name). The
    * name-keyed extra Blooms (`bloomCols`) are in the set for the
    * same reason as the primaries: a rename would leave the recorded
    * config naming a nonexistent logical column — point lookups fail
    * at scan time and new segments silently stop building the
    * filter. */
  private def skippingColumns(propsStr: Option[String]): Set[String] = {
    val rec = propsStr.toSeq.flatMap(_.split(';')).flatMap { e =>
      if (e.startsWith("statsCol=") || e.startsWith("bloomCol="))
        Seq(e.drop(e.indexOf('=') + 1))
      else if (e.startsWith("statsCols=") || e.startsWith("bloomCols="))
        e.drop(e.indexOf('=') + 1).split(',').toSeq.map(_.trim)
      else Nil
    }
    rec.filter(_.nonEmpty).toSet ++ configuredStatsColumns ++
      configuredBloomColumns
  }

  /** A NEW column keeps physical = logical unless that name is
    * already claimed — by a live field's physical (a rename freed the
    * logical name but its storage name lives on) or by a RETIRED
    * physical (a dropped column's storage name) — in which case it
    * gets a fresh `col-<uuid>`: old files' bytes under the claimed
    * name can then never leak into the new column. */
  private def assignPhysical(f: org.apache.spark.sql.types.StructField,
      current: org.apache.spark.sql.types.StructType,
      retired: Set[String]): org.apache.spark.sql.types.StructField = {
    val taken = current.fields.map(LogStore.physicalName).toSet ++ retired
    if (!taken.contains(f.name)) f
    else f.copy(metadata =
      new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putString(LogStore.PhysicalNameKey,
          s"col-${java.util.UUID.randomUUID().toString.take(12)}")
        .build())
  }

  /** Data-skipping read: scan ONLY the live segments whose
    * [statsCol] min/max range may overlap [lo, hi], then apply the
    * row-level filter on what is scanned — segment-level pruning
    * BEFORE any parquet footer is opened, the log-side complement of
    * parquet's row-group stats. Returns (dataframe, scanned, live) so
    * callers (and the spec) can see the skip rate. */
  def readRange(lo: String, hi: String,
      version: Long = Long.MaxValue): (DataFrame, Int, Int) = {
    val c = statsCol.getOrElse(
      throw new IllegalStateException("no statsCol configured"))
    readRangeAll(Seq((c, lo, hi)), version)
  }

  /** [[readRange]] on ANY configured stats column — primary or one of
    * the extra [statsCols]. */
  def readRangeOn(c: String, lo: String, hi: String,
      version: Long = Long.MaxValue): (DataFrame, Int, Int) =
    readRangeAll(Seq((c, lo, hi)), version)

  /** Conjunctive multi-column data skipping: scan only the live
    * segments whose recorded bounds may overlap EVERY (column, lo,
    * hi) predicate — the query shape of a real partition-pruned read
    * (a date slice AND a key range AND a curve interval), where any
    * one dimension's stats alone would open most of the table. Each
    * predicate column must be a configured stats column (primary or
    * extra); segments missing bounds for a column are always scanned
    * for that column (the per-column safe default), so the result set
    * is EXACTLY the full scan's — the row-level filters are applied
    * to whatever survives. Returns (dataframe, scanned, live). */
  def readRangeAll(preds: Seq[(String, String, String)],
      version: Long = Long.MaxValue): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.{col => fcol, lit => flit}
    require(preds.nonEmpty, "readRangeAll needs at least one predicate")
    preds.foreach { case (c, _, _) =>
      require(statsCol.contains(c) || statsCols.contains(c),
        s"'$c' is not a configured stats column (statsCol/statsCols)")
    }
    val live = liveSegmentInfos(version)
    val hit = live.filter(s =>
      preds.forall { case (c, lo, hi) => s.mayOverlapOn(c, lo, hi) })
    if (hit.isEmpty)
      return (read(version).where(flit(false)), 0, live.size)
    val scan = scanSegments(hit, version)
    val filtered = preds.foldLeft(scan) { case (df, (c, lo, hi)) =>
      val dt = df.schema(c).dataType
      df.where(fcol(c).between(flit(lo).cast(dt), flit(hi).cast(dt)))
    }
    (filtered, hit.size, live.size)
  }

  /** Bloom-skipped point lookup: scan only the live segments whose
    * [bloomCol] Bloom filter cannot RULE OUT the key — the skipping
    * min/max stats can't do, because string keys (shop domains, doc
    * hashes, user ids) interleave across segments and give every
    * segment the same useless [min, max]. A Bloom bit pattern has no
    * false negatives, so the result set is EXACTLY the full scan's
    * (the filter is strictly an optimization); false positives only
    * cost an extra segment open, bounded by the fill ratio
    * (k·keys/bits per segment). Segments written before the bloom was
    * configured (or by a store without one) carry no filter and are
    * always scanned — the same safe default as the min/max stats.
    * Returns (dataframe, scanned, live) so callers see the skip
    * rate. */
  def pointLookup(key: String,
      version: Long = Long.MaxValue): (DataFrame, Int, Int) = {
    val c = bloomCol.getOrElse(
      throw new IllegalStateException("no bloomCol configured"))
    pointLookupOn(c, key, version)
  }

  /** [[pointLookup]] on ANY configured Bloom column — the primary
    * [bloomCol] or a name-keyed [bloomCols] member; each column's
    * filters prune independently. */
  def pointLookupOn(c: String, key: String,
      version: Long = Long.MaxValue): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.{col => fcol, lit => flit}
    require(bloomCol.contains(c) || bloomCols.contains(c),
      s"'$c' is not a configured Bloom column (bloomCol/bloomCols)")
    val pos = bloomPositions(key)
    val live = liveSegmentInfos(version, blooms = true)
    val hit = live.filter(_.mayContainOn(c, pos))
    if (hit.isEmpty)
      return (read(version).where(flit(false)), 0, live.size)
    val scan = scanSegments(hit, version)
    (scan.where(fcol(c).cast("string") === flit(key)),
      hit.size, live.size)
  }

  /** Multi-range data-skipping read: scan only the live segments whose
    * [statsCol] min/max may overlap ANY of `ranges` — the query shape
    * of space-filling-curve clustering, where a 2-D rectangle
    * decomposes into a SET of 1-D index intervals
    * ([[graft.operators.LayoutOps.rectIndexRanges]]). No row filter is
    * applied: the caller owns the real predicate (e.g. the rectangle
    * on the original columns); this layer only decides which segments
    * exist to the scan. Returns (dataframe, scanned, live). */
  def readRanges(ranges: Seq[(String, String)],
      version: Long = Long.MaxValue): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.{lit => flit}
    require(ranges.nonEmpty, "readRanges needs at least one range")
    require(statsCol.nonEmpty, "no statsCol configured")
    val live = liveSegmentInfos(version)
    val hit = live.filter(s =>
      ranges.exists { case (lo, hi) => s.mayOverlap(lo, hi) })
    if (hit.isEmpty)
      return (read(version).where(flit(false)), 0, live.size)
    (scanSegments(hit, version), hit.size, live.size)
  }

  /** The k = 4 deterministic Bloom bit positions of a key: four
    * 32-bit slices of one md5, each reduced mod [bloomBits] — the
    * same positions whether computed by the Spark build expression
    * (segment write) or this driver-side probe (point lookup). */
  private[graft] def bloomPositions(key: String): Seq[Int] = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    (0 until 4).map { i =>
      (java.lang.Long.parseLong(hex.substring(8 * i, 8 * i + 8), 16) %
        bloomBits).toInt
    }
  }

  /** Position `i` (0..3) of [[bloomPositions]] as a Spark expression
    * over a column: md5 of the value's string spelling, hex slice
    * `i`, mod [bloomBits] — NULL for a NULL value. The one definition
    * of the positions a segment's Bloom filter holds: every write
    * task evaluates it, bound to its rows ([[segmentWriter]]). (The
    * hex serialization lives in [[LogStore.bloomHexOf]].) */
  private def bloomPosCol(c: org.apache.spark.sql.Column,
      i: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{conv, lit => flit, md5 => fmd5,
      pmod, substring => fsubstr}
    pmod(conv(fsubstr(fmd5(c.cast("string").cast("binary")), 1 + 8 * i, 8),
      16, 10).cast("long"), flit(bloomBits.toLong)).cast("int")
  }

  /** The add actions of staged segments — each a fresh segment name
    * with the messages of the files moved into it — from what the
    * write tasks recorded ([[graft.sources.LogDataWriter]]): no Spark
    * job, no file read. `schema` is the write's LOGICAL schema. Per
    * segment:
    *  - rows: the sum of its files' rows;
    *  - each stats column's bounds: the least min and the greatest max
    *    of its files under Spark's ordering for the type, spelled as
    *    `cast(min(c) AS STRING)` spells them in the session time zone
    *    ([[LogStore.spellBound]]). None when every value is NULL or a
    *    file did not record the column; string bounds only when
    *    [[LogStore.safeStringBound]] passes both, else reads of that
    *    segment-column degrade to always-scan;
    *  - each Bloom column's filter: its files' bits OR-ed — the
    *    all-zero filter when it holds no non-NULL key, none when a file
    *    did not record the column (a filter that missed a file would
    *    be a false negative). */
  private def segmentsMeta(segments: Seq[(String, Seq[LogWriteMessage])],
      schema: org.apache.spark.sql.types.StructType): Seq[Segment] = {
    val columns = schema.fieldNames.toSeq
    val wanted = (statsCol.toSeq ++ statsCols).distinct
      .filter(columns.contains)
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    def isNum(c: String): Boolean = schema(c).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    segments.map { case (name, files) =>
      val rows = Some(files.map(_.rows).sum)
      val perCol = wanted.flatMap { c =>
        val dt = schema(c).dataType
        val ord = org.apache.spark.sql.catalyst.types.PhysicalDataType
          .ordering(dt)
        val fileBounds =
          if (files.forall(_.bounds.contains(c)))
            files.map(_.bounds(c)).filter(_._1 != null)
          else Nil
        fileBounds.reduceOption { (a, b) =>
          (if (ord.lt(b._1, a._1)) b._1 else a._1,
            if (ord.gt(b._2, a._2)) b._2 else a._2)
        }.map { case (lo, hi) =>
          (LogStore.spellBound(lo, dt, tz), LogStore.spellBound(hi, dt, tz))
        }.filter { case (lo, hi) =>
          dt != org.apache.spark.sql.types.StringType ||
            (LogStore.safeStringBound(lo) && LogStore.safeStringBound(hi))
        }.map { case (lo, hi) => c -> (lo, hi, isNum(c)) }
      }.toMap
      val base =
        if (wanted.isEmpty) Segment(name, None, None, num = false, rows = rows)
        else {
          val prim = statsCol.flatMap(perCol.get)
          Segment(name, prim.map(_._1), prim.map(_._2),
            statsCol.exists(c => columns.contains(c) && isNum(c)),
            extra = perCol -- statsCol.toSeq, rows = rows)
        }
      def bloomOf(c: String): Option[String] =
        if (!files.forall(_.blooms.contains(c))) None
        else {
          val bits = new Array[Boolean](bloomBits)
          files.foreach(_.blooms(c).stream().forEach(bits(_) = true))
          Some(LogStore.bloomHexOf(bits))
        }
      // extra bloom columns land NAME-KEYED (bxs) — same per-column
      // independence as the extra stats
      val extras = bloomCols.filter(columns.contains)
        .flatMap(c => bloomOf(c).map(c -> _)).toMap
      val withBxs = if (extras.isEmpty) base else base.copy(bxs = extras)
      bloomCol match {
        case Some(c) if columns.contains(c) =>
          withBxs.copy(bloom = bloomOf(c))
        case _ => withBxs
      }
    }
  }

  /** logical→physical column map for a write: the EVOLVED schema when
    * this commit carries one (a new column's physical assignment must
    * govern the very write that introduces it), else the recorded
    * schema; empty when the table has no column mapping — the
    * identity fast path every pre-mapping table stays on. */
  private def writeMapping(evolvedB64: Option[String])
      : Map[String, String] = {
    val sc = evolvedB64.map(decodeSchema)
      .orElse(if (latestVersion() < 0) None
        else recordedSchema(latestVersion()))
    sc.filter(LogStore.hasMapping)
      .map(_.fields.iterator
        .map(f => f.name -> LogStore.physicalName(f)).toMap)
      .getOrElse(Map.empty)
  }

  private def toPhysicalDf(df: DataFrame,
      m: Map[String, String]): DataFrame =
    if (m.isEmpty || df.columns.forall(c => m.getOrElse(c, c) == c)) df
    else {
      import org.apache.spark.sql.functions.{col => fcol}
      df.select(df.columns.toSeq.map(c =>
        fcol(c).as(m.getOrElse(c, c))): _*)
    }

  /** Physical→logical projection for RAW segment reads OUTSIDE
    * [[scanSegments]] (the DV-delete candidate scan, the feed's
    * insert-segment reads), with passthrough columns kept as-is.
    * Identity when the table has no column mapping. */
  private def rawToLogical(df: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col => fcol, lit => flit}
    (if (latestVersion() < 0) None
     else recordedSchema(latestVersion()))
      .filter(LogStore.hasMapping) match {
      case Some(s) =>
        df.select(s.fields.toSeq.map { f =>
          val p = LogStore.physicalName(f)
          if (df.columns.contains(p)) fcol(p).as(f.name)
          else flit(null).cast(f.dataType).as(f.name)
        } ++ keep.map(fcol): _*)
      case None => df
    }
  }

  /** The one segment writer ([[LogDataWriterFactory]]) for rows of
    * `physical` — the schema the files hold, under physical names —
    * whose logical names are `logical`, by position; files stage under
    * `stageDir`. Its tasks record the rows, the bounds of this store's
    * stats columns and the Bloom bits of its Bloom columns among them
    * ([[bloomPosCol]]'s positions, bound to the rows' ordinals), which
    * [[segmentsMeta]] turns into add actions. Every segment write runs
    * it: the engine's ([[writeStaged]]) and the connector's. */
  private[graft] def segmentWriter(stageDir: String,
      physical: org.apache.spark.sql.types.StructType,
      logical: Seq[String]): LogDataWriterFactory = {
    import org.apache.spark.sql.types.{DateType, NumericType, StringType,
      TimestampType}
    val at = logical.zipWithIndex.toMap
    val bounds = (statsCol.toSeq ++ statsCols).distinct.filter(at.contains)
      .map { c =>
        val dt = physical(at(c)).dataType
        require(dt.isInstanceOf[NumericType] || dt == DateType ||
            dt == TimestampType || dt == StringType,
          s"statsCol '$c' is $dt; only numeric/date/timestamp/string " +
            "columns can carry segment stats (numeric/date/timestamp " +
            "spellings are grammar-safe by type; string bounds are " +
            "gated per-segment by safeStringBound)")
        (c, at(c), dt)
      }
    val blooms = (bloomCol.toSeq ++ bloomCols).distinct.filter(at.contains)
    val positions = org.apache.spark.sql.GraftSqlBridge.bound(spark, physical,
      for (c <- blooms; i <- 0 until 4) yield bloomPosCol(
        org.apache.spark.sql.functions.col(
          "`" + physical(at(c)).name.replace("`", "``") + "`"), i))
    LogDataWriterFactory.of(spark, stageDir, physical,
      SegmentStatsSpec(bounds, blooms.zip(positions.grouped(4).toSeq),
        bloomBits))
  }

  /** Write `physDf` — rows under PHYSICAL names whose logical names are
    * `logical` — through [[segmentWriter]] in ONE Spark job, and move
    * the written files into fresh segments: one per task with
    * `perTask` (a clustered rewrite: one task is one bucket is one
    * segment; a task with no rows lands none), else one for all, with
    * partition 0 landing a file even when every partition is empty.
    * Returns each segment with its files' messages; nothing is
    * published until the caller commits. */
  private def writeStaged(physDf: DataFrame, logical: Seq[String],
      perTask: Boolean): Seq[(String, Seq[LogWriteMessage])] = {
    val stage =
      s"$root/_stage-${java.util.UUID.randomUUID().toString.take(12)}"
    try stageToSegments(segmentWriter(stage, physDf.schema, logical)
        .writeRows(physDf, firstAlways = !perTask), perTask)
    finally fs.delete(new Path(stage), true)
  }

  /** Move the files `staged` names into fresh `seg-*` directories — one
    * segment for all of them (the append shape) or one per file
    * (`fileAsSegment`: each file keeps its own tight bounds) — and
    * return each segment with the messages of its files. Only
    * message-named files move, so a failed or speculated task
    * attempt's file stays in staging, which the caller drops (vacuum
    * reclaims it after a crash). No file, no segment. */
  private[graft] def stageToSegments(staged: Seq[LogWriteMessage],
      fileAsSegment: Boolean): Seq[(String, Seq[LogWriteMessage])] = {
    val written = staged.filter(_.file.nonEmpty)
    val groups =
      if (fileAsSegment) written.map(Seq(_))
      else if (written.isEmpty) Nil
      else Seq(written)
    groups.map { group =>
      val name = s"seg-${java.util.UUID.randomUUID().toString.take(12)}"
      fs.mkdirs(new Path(s"$root/$name"))
      group.foreach { m =>
        val from = new Path(m.file.get)
        if (!fs.rename(from, new Path(s"$root/$name/${from.getName}")))
          throw new java.io.IOException(s"staging rename of $from failed")
      }
      name -> group
    }
  }

  /** Write `df` as a fresh immutable segment and return its add action
    * — NOT yet visible; publication happens in [[commit]]. Defaults
    * and CHECK constraints apply first, then column mapping; the write
    * job's tasks record the rows, bounds and Bloom bits
    * ([[writeStaged]]), so the whole call is ONE Spark job. Every
    * engine write of one segment lands here: append, appendStream,
    * mergeKeyed, applyChangesKeyed, deleteWhere/deleteRange and
    * compact. */
  private def writeSegment(df: DataFrame,
      evolvedB64: Option[String] = None): Segment = {
    // defaults BEFORE the CHECK gate: a constraint over a
    // default-bearing column must see the value that lands
    val padded = padDefaults(df)
    val physDf =
      toPhysicalDf(enforceChecks(padded), writeMapping(evolvedB64))
    segmentsMeta(writeStaged(physDf, padded.columns.toSeq, perTask = false),
      padded.schema).head
  }

  /** CREATE-time column DEFAULTs materialize at write: a programmatic
    * append that omits a default-bearing column gets the DEFAULT
    * literal filled in — the same value Spark's analyzer fills on the
    * SQL surface — so no write path ever leaves a default-bearing
    * column to null-fill and reads agree everywhere. (The metadata
    * key is Spark's own CURRENT_DEFAULT, which CREATE TABLE … DEFAULT
    * records in the schema and the log round-trips.) */
  private def padDefaults(df: DataFrame): DataFrame = {
    val v = latestVersion()
    if (v < 0) return df
    val recorded = replayTo(v).schemaB64.map(decodeSchema)
      .getOrElse(return df)
    import org.apache.spark.sql.functions.{expr => fexpr}
    recorded.fields
      .filter(f => !df.columns.contains(f.name) &&
        f.metadata.contains("CURRENT_DEFAULT"))
      .foldLeft(df)((d, f) => d.withColumn(f.name,
        fexpr(f.metadata.getString("CURRENT_DEFAULT"))
          .cast(f.dataType)))
  }

  /** The DSv2 twin of [[padDefaults]]'s guarantee: executor-written
    * staged files cannot be padded after the fact, so a staged write
    * that omits a default-bearing column refuses — the SQL surface
    * never hits this (Spark's analyzer fills DEFAULTs before the
    * files are written); only a path-based narrow frame can. */
  private def requireStagedDefaults(
      writeSchema: org.apache.spark.sql.types.StructType): Unit = {
    val v = latestVersion()
    if (v < 0) return
    val recorded = replayTo(v).schemaB64.map(decodeSchema)
      .getOrElse(return)
    val missing = recorded.fields.filter(f =>
      f.metadata.contains("CURRENT_DEFAULT") &&
        !writeSchema.fieldNames.contains(f.name)).map(_.name)
    require(missing.isEmpty,
      s"staged write omits default-bearing column(s) " +
        s"${missing.mkString(", ")} — include the column (the SQL " +
        "surface fills DEFAULTs at analysis) so the default is " +
        "materialized, or drop the default")
  }

  /** Every programmatic write that lands row bytes funnels through
    * [[writeSegment]], so the recorded CHECK constraints attach here
    * as throwing FILTERS: `assert_true` evaluates inside the write's
    * own pass (codegen'd — never a second scan of the batch; the
    * optimizer cannot drop the filter because `IsNull(assert_true)`
    * is not provably true), and a FALSE row fails the Spark job
    * BEFORE any commit — the table is untouched and the half-written
    * segment directory is a crash orphan vacuum reclaims. NULL
    * passes (ANSI CHECK). Rewrite paths (UPDATE survivors, OPTIMIZE)
    * re-validate for free: their rows already satisfy the
    * constraints, and an UPDATE that breaks one must refuse. */
  private def enforceChecks(df: DataFrame): DataFrame = {
    val v = latestVersion()
    if (v < 0) return df
    val propsStr = recordedProps(v)
    val cks = checkConstraintsOf(propsStr)
    if (cks.isEmpty) return df
    import org.apache.spark.sql.functions.{assert_true, coalesce => fcoalesce, expr => fexpr, lit => flit}
    // a NARROWER write legally omits columns (parquet null-fills at
    // read): the constraint must see the NULLs those rows will have,
    // so absent referenced columns pad in as typed null literals
    // (ANSI: NULL passes) and drop back out before anything lands
    lazy val recorded = replayTo(v).schemaB64.map(decodeSchema)
    val padCols = constraintColumns(propsStr)
      .diff(df.columns.toSet).toSeq.sorted
      .flatMap(n => recorded
        .flatMap(_.fields.find(_.name == n)).map(f => (n, f.dataType)))
    val padded = padCols.foldLeft(df) { case (d, (n, dt)) =>
      d.withColumn(n, flit(null).cast(dt)) }
    val gated = cks.toSeq.sortBy(_._1).foldLeft(padded) {
      case (d, (n, sql)) =>
        d.where(assert_true(fcoalesce(fexpr(sql), flit(true)),
          flit(s"CHECK constraint '$n' violated: $sql")).isNull)
    }
    if (padCols.isEmpty) gated else gated.drop(padCols.map(_._1): _*)
  }

  private def addJson(s: Segment): String = {
    val stats = (s.min, s.max) match {
      case (Some(mn), Some(mx)) =>
        s""","min":"$mn","max":"$mx","num":${s.num}"""
      case _ => ""
    }
    // the hex alphabet is quote- and newline-free by construction, so
    // the line-oriented grammar needs no escaping layer for blooms
    val bloom = s.bloom.map(h => s""","bloom":"$h"""").getOrElse("")
    // extra stats ride as one quoted value: col|min|max|num;col2|… —
    // names are delimiter-checked at construction, values are
    // numeric/date/timestamp strings (delimiter-free by type)
    val xs =
      if (s.extra.isEmpty) ""
      else s.extra.toSeq.sortBy(_._1).map { case (c, (lo, hi, n)) =>
        s"$c|$lo|$hi|${if (n) "t" else "f"}"
      }.mkString(""","xs":"""", ";", "\"")
    // extra NAME-KEYED blooms (the multi-column filters): col|hex;…
    // — emitted LAST (after dv), so a reader whose grammar predates
    // the field loses only the filter, never the deletion vector
    val bxs =
      if (s.bxs.isEmpty) ""
      else s.bxs.toSeq.sortBy(_._1).map { case (c, h) => s"$c|$h" }
        .mkString(""","bxs":"""", ";", "\"")
    // the exact row count rides every add action: the O(segments)
    // answer to COUNT(*) (aggregate pushdown), and free accounting
    val rows = s.rows.map(n => s""","rows":$n""").getOrElse("")
    // deletion-vector state rides re-adds (restore) and checkpoints,
    // so replay reconstructs it without the original dv action
    val dv = s.dv.map { case (f, n) => s""","dvf":"$f","dvr":$n""" }
      .getOrElse("")
    s"""{"add":"${s.name}"$stats$bloom$xs$rows$dv$bxs}"""
  }

  /** Publish a commit at `expected` version via create-exclusive —
    * the optimistic-concurrency point. Only a lost create race maps
    * to [[ConcurrentCommitException]]; any other I/O failure
    * (disk full, permissions, transient network) is rethrown as
    * itself — misreporting it as a conflict would steer callers into
    * a rebase-and-retry loop that can never succeed. Package-private
    * so the scale harness can age a table without paying per-commit
    * parquet writes. */
  private[graft] def commit(expected: Long, adds: Seq[Segment],
      removes: Seq[String], txn: Option[Long] = None,
      vacuumHorizon: Option[Long] = None,
      cdc: Seq[String] = Nil,
      schema: Option[String] = None,
      props: Option[String] = None,
      dvs: Seq[(String, String, Long)] = Nil): Long = {
    fs.mkdirs(new Path(logDir))
    // the commit wall-clock is LOG CONTENT (`ts` action), not file
    // metadata: TIMESTAMP AS OF must survive a cp -r, an
    // object-store upload, or a backup-restore that rewrites mtimes
    val body = (Seq(s"""{"ts":${System.currentTimeMillis()}}""") ++
      schema.map(s => s"""{"schema":"$s"}""").toSeq ++
      props.map(p => s"""{"props":"$p"}""").toSeq ++
      adds.map(addJson) ++
      removes.map(s => s"""{"remove":"$s"}""") ++
      txn.map(id => s"""{"txn":$id}""").toSeq ++
      vacuumHorizon.map(h => s"""{"vacuum":$h}""").toSeq ++
      cdc.map(s => s"""{"cdc":"$s"}""") ++
      dvs.map { case (seg, f, n) =>
        s"""{"dv":"$seg","dvf":"$f","dvr":$n}""" })
      .mkString("", "\n", "\n")
    // ATOMIC publish: the body lands in full under a `_tmp-` name (a
    // name no listing matches; crash orphans are vacuum-reclaimed like
    // the checkpoint staging files), then appears under the version
    // name in one filesystem operation — a concurrent reader can never
    // observe a created-but-unwritten commit file (an empty or partial
    // version json replays as a schema-less no-action commit, turning
    // a healthy table into "empty table" for the duration of the
    // window). The publish op doubles as the create-EXCLUSIVE
    // concurrency point: a hard link (local) refuses an existing
    // destination atomically at the syscall level, and HDFS-style
    // renames return false on an existing destination — either way a
    // lost race maps to [[ConcurrentCommitException]], exactly as the
    // old direct create(…, overwrite = false) did.
    val target = versionPath(expected)
    val tmp = new Path(logDir,
      s"_tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if ("file" == fs.getScheme) {
      try java.nio.file.Files.createLink(
        java.nio.file.Paths.get(target.toUri.getPath),
        java.nio.file.Paths.get(tmp.toUri.getPath))
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(tmp, false)
          throw new ConcurrentCommitException(expected)
      }
      fs.delete(tmp, false)
    } else {
      if (fs.exists(target) || !fs.rename(tmp, target)) {
        fs.delete(tmp, false)
        throw new ConcurrentCommitException(expected)
      }
    }
    maybeCheckpoint(expected)
    expected
  }

  /** The optimistic-concurrency retry loop every re-deriving commit
    * path shares: run `attempt` — which re-reads the head, re-derives
    * and commits — again after a lost commit race, at most
    * `maxAttempts` times in all. `canRetry` runs after each lost race
    * and may refuse the retry (the original exception then
    * propagates); any other failure propagates at once. */
  private def retryCommits(maxAttempts: Int = LogStore.CommitAttempts,
      canRetry: () => Boolean = () => true)(attempt: => Long): Long = {
    require(maxAttempts >= 1, "need at least one attempt")
    var n = 1
    while (true) {
      try return attempt
      catch {
        case _: ConcurrentCommitException
            if n < maxAttempts && canRetry() => n += 1
      }
    }
    -1L // unreachable
  }

  /** ALTER TABLE ADD COLUMN as a METADATA-ONLY commit: the log
    * already versions the table schema (the metadata action), and
    * parquet null-fills absent columns, so adding NULLABLE columns
    * needs zero data bytes — one commit carrying the evolved schema
    * action. Existing segments read null in the new columns from the
    * instant the commit lands; time travel before it returns the old
    * shape (the schema action is version-scoped state like any
    * other). Non-nullable additions refuse: old rows CANNOT satisfy
    * the constraint without a rewrite, and silently weakening it to
    * nullable would lie to readers. Duplicate names refuse (case-
    * sensitive, matching [[enforceSchema]]'s match rule). Blind
    * metadata commit: on a lost race it re-derives the current schema
    * and retries — adding a column commutes with data commits, and
    * racing metadata changes re-check the duplicate rule against the
    * fresh schema. */
  def addColumns(cols: org.apache.spark.sql.types.StructType): Long = {
    require(cols.nonEmpty, "ADD COLUMN needs at least one column")
    cols.foreach(f => require(f.nullable,
      s"ADD COLUMN '${f.name}' must be nullable — existing rows have " +
        "no value for it; a NOT NULL addition needs a rewrite"))
    retryCommits() {
      val v = latestVersion()
      require(v >= 0, s"no log at $root")
      val st = replayTo(v)
      val current = st.schemaB64.map(decodeSchema)
        .getOrElse(read(v).schema) // legacy pre-stamp log
      cols.foreach(f => require(!current.fieldNames.contains(f.name),
        s"column '${f.name}' already exists"))
      val retired = LogStore.retiredPhysical(st.propsStr)
      val evolved = org.apache.spark.sql.types.StructType(
        current.fields ++
          cols.fields.map(assignPhysical(_, current, retired)))
      commit(v + 1, Nil, Nil, schema = Some(encodeSchema(evolved)))
    }
  }

  /** ALTER TABLE RENAME COLUMN as a METADATA-ONLY schema commit
    * (Delta-style column mapping): the field keeps its stable
    * PHYSICAL (on-disk) name — assigned now if it never had one — and
    * only the logical name changes, so zero data bytes move, old
    * segments keep reading through the mapping, and time travel
    * presents the old name AS OF its version (the schema action is
    * version-scoped state). A column carrying the skipping config
    * (statsCol/statsCols/bloomCol) refuses: the recorded config and
    * per-segment bounds key on the old name — re-point the
    * TBLPROPERTIES first. */
  def renameColumn(from: String, to: String): Long = {
    require(from != to, "rename to the same name is a no-op")
    require(to.nonEmpty && !to.exists("|;\"\n=,".contains(_)),
      s"column name '$to' may not contain | ; = , quote or newline")
    retryCommits() {
      val v = latestVersion()
      require(v >= 0, s"no log at $root")
      val st = replayTo(v)
      // guard on the RECORDED config (plus this handle's): an
      // unconfigured path handle must refuse just the same
      require(!skippingColumns(st.propsStr).contains(from),
        s"column '$from' carries the skipping config " +
          "(statsCol/statsCols/bloomCol/bloomCols) — ALTER " +
          "TBLPROPERTIES first, then rename")
      require(!constraintColumns(st.propsStr).contains(from),
        s"column '$from' is referenced by a CHECK constraint — DROP " +
          "the constraint first, then rename")
      val current = st.schemaB64.map(decodeSchema)
        .getOrElse(read(v).schema)
      require(current.fieldNames.contains(from),
        s"no column '$from' to rename")
      require(!current.fieldNames.contains(to),
        s"column '$to' already exists")
      val evolved = org.apache.spark.sql.types.StructType(
        current.fields.map { f =>
          if (f.name != from) f
          else f.copy(name = to, metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putString(LogStore.PhysicalNameKey,
                LogStore.physicalName(f))
              .build())
        })
      commit(v + 1, Nil, Nil, schema = Some(encodeSchema(evolved)))
    }
  }

  /** ALTER TABLE ALTER COLUMN TYPE — WIDENING ONLY — as a
    * METADATA-ONLY schema commit: BYTE→SHORT→INT→LONG along the
    * integral family and FLOAT→DOUBLE re-type the LOGICAL column;
    * existing segments keep their narrow physical bytes and every
    * read path up-casts at scan time (Spark 4's parquet widening
    * promotions, on the native scan and in the DSv2 connector, which
    * reads through the same parquet reader), so zero data bytes move
    * and time travel presents the old type AS OF its version — the
    * schema action is version-scoped state like any other. Writers
    * after the widen must produce the WIDE type (the usual
    * enforceSchema exactness; SQL INSERT casts to the table schema
    * automatically).
    *
    * Widening a SKIPPING column is allowed — unlike rename/drop,
    * nothing stops keying: recorded bounds are stored as strings and
    * compared through BigDecimal, so a segment recorded under INT
    * ('5'..'90') prunes correctly against LONG predicates, and a
    * float bound's shortest-repr spelling parses to the same
    * BigDecimal the widened double comparison uses.
    *
    * Everything else — narrowing (loses information), cross-family
    * re-types (changes semantics), decimal precision moves — keeps
    * the reasoned refusal: those evolve by CTAS migration. */
  def widenColumn(name: String,
      to: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types._
    def rank(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(1)
      case ShortType => Some(2)
      case IntegerType => Some(3)
      case LongType => Some(4)
      case _ => None
    }
    retryCommits() {
      val v = latestVersion()
      require(v >= 0, s"no log at $root")
      val st = replayTo(v)
      val current = st.schemaB64.map(decodeSchema)
        .getOrElse(read(v).schema)
      val f = current.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column '$name' to widen"))
      val ok = (f.dataType, to) match {
        case (a, b) if a == b => throw new IllegalArgumentException(
          s"column '$name' is already $b")
        case (FloatType, DoubleType) => true
        case (a, b) => (rank(a), rank(b)) match {
          case (Some(ra), Some(rb)) => ra < rb
          case _ => false
        }
      }
      require(ok,
        s"ALTER COLUMN '$name' ${f.dataType} -> $to is not a widening " +
          "(only BYTE->SHORT->INT->LONG and FLOAT->DOUBLE are " +
          "metadata-only; anything else loses information or changes " +
          "semantics and evolves by CTAS migration)")
      val evolved = org.apache.spark.sql.types.StructType(
        current.fields.map { g =>
          if (g.name != name) g else g.copy(dataType = to)
        })
      commit(v + 1, Nil, Nil, schema = Some(encodeSchema(evolved)))
    }
  }

  /** ALTER TABLE DROP COLUMN as a METADATA-ONLY commit: the field
    * leaves the schema and its PHYSICAL name is RETIRED into the
    * props action in the SAME commit — zero data bytes move, old
    * snapshots time-travel with the column intact, and a later ADD
    * COLUMN under the same logical name gets a fresh `col-<uuid>`
    * physical so the dropped bytes can never resurrect (the
    * drop-then-re-add contract). Skipping-config columns refuse like
    * rename; dropping every column refuses. */
  def dropColumns(names: Seq[String]): Long = {
    require(names.nonEmpty, "DROP COLUMN needs at least one column")
    retryCommits() {
      val v = latestVersion()
      require(v >= 0, s"no log at $root")
      val st = replayTo(v)
      names.foreach(n => require(
        !skippingColumns(st.propsStr).contains(n),
        s"column '$n' carries the skipping config " +
          "(statsCol/statsCols/bloomCol/bloomCols) — ALTER " +
          "TBLPROPERTIES first, then drop"))
      names.foreach(n => require(
        !constraintColumns(st.propsStr).contains(n),
        s"column '$n' is referenced by a CHECK constraint — DROP " +
          "the constraint first, then drop the column"))
      val current = st.schemaB64.map(decodeSchema)
        .getOrElse(read(v).schema)
      names.foreach(n => require(current.fieldNames.contains(n),
        s"no column '$n' to drop"))
      require(current.fields.length > names.length,
        "cannot drop every column")
      val dropped = current.fields.filter(f => names.contains(f.name))
      val evolved = org.apache.spark.sql.types.StructType(
        current.fields.filterNot(f => names.contains(f.name)))
      // the retired set and the schema land in ONE commit — a crash
      // between them could otherwise let a re-add reclaim the
      // physical name and resurrect dropped bytes
      val cur = recordedProps(v).toSeq
        .flatMap(_.split(';').iterator.filter(_.contains('=')))
        .map { e =>
          val i = e.indexOf('='); (e.take(i), e.drop(i + 1))
        }.toMap
      val retired = (LogStore.retiredPhysical(st.propsStr) ++
        dropped.map(LogStore.physicalName)).toSeq.sorted
      val next = cur + ("graft.retiredPhysical" -> retired.mkString(","))
      val extras = next.view
        .filterKeys(!LogStore.EngineProps.contains(_)).toMap
      val encoded = LogStore.encodePropsFrom(
        next.get("statsCol"),
        next.get("statsCols").toSeq.flatMap(_.split(',').toSeq)
          .map(_.trim).filter(_.nonEmpty),
        next.get("bloomCol"),
        next.get("bloomBits").map(_.toInt).getOrElse(4096),
        next.get("dvDeletes").contains("true"), extras,
        next.get("bloomCols").toSeq.flatMap(_.split(',').toSeq)
          .map(_.trim).filter(_.nonEmpty))
      commit(v + 1, Nil, Nil, schema = Some(encodeSchema(evolved)),
        props = Some(encoded.getOrElse("")))
    }
  }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES as a metadata-only props
    * commit: change the table's recorded skipping configuration (and
    * application extras) for every FUTURE write — existing segments
    * keep their recorded metadata and degrade per the usual safe
    * defaults (no bounds for a column ⇒ always scanned). `sets` maps
    * keys to new values, `removes` clears keys; the result is
    * re-encoded canonically and committed as one props action.
    *
    * Transitions that would make EXISTING metadata lie are handled by
    * CLEARING it in the same commit (affected live segments are
    * re-added with the stale fields dropped — metadata-only, zero
    * data bytes, dataChange=false in the feed via an empty cdc
    * marker):
    *  - replacing `statsCol`: the primary min/max slot is positional
    *    (recorded for whatever column was configured at write time),
    *    so probing the NEW column against old bounds would prune
    *    wrong rows — re-adds drop primary bounds; old segments then
    *    take the no-bounds always-scan safe default until an
    *    OPTIMIZE re-derives them under the new config.
    *  - changing `bloomCol` or `bloomBits`: old filters are
    *    keyed/sized under the old config and a mismatched probe has
    *    FALSE NEGATIVES — re-adds drop the filters.
    *  - `statsCols` edits, `dvDeletes` toggles, removals, and
    *    application extras never touch segment metadata (named
    *    bounds / write-routing / unconsulted filters are all safe
    *    stale). */
  def setProperties(sets: Map[String, String],
      removes: Set[String] = Set.empty): Long =
    setPropertiesImpl(sets, removes, engineManaged = false)

  private def setPropertiesImpl(sets: Map[String, String],
      removes: Set[String], engineManaged: Boolean): Long = {
    require(sets.nonEmpty || removes.nonEmpty, "nothing to change")
    // `constraint.*` is engine-managed state: a raw property set
    // would smuggle a CHECK past addCheckConstraint's validation —
    // and an unparseable payload would then fail EVERY subsequent
    // write at the gate. Raw removes stay allowed (equivalent to
    // DROP CONSTRAINT, which only ever unenforces).
    if (!engineManaged) sets.keys.foreach(k =>
      require(!k.startsWith("constraint."),
        s"property '$k' is engine-managed — use addCheckConstraint " +
          "/ ALTER TABLE ADD CONSTRAINT ... CHECK"))
    sets.foreach { case (k, v) =>
      require(k.nonEmpty && !(k + v).exists(";\"\n=".contains(_)),
        s"property '$k' may not contain ; = quote or newline")
    }
    (sets.keySet ++ removes).foreach(k =>
      require(k != "checkpointInterval",
        "checkpointInterval is per-writer runtime config, not table " +
          "state"))
    retryCommits() {
      val v = latestVersion()
      require(v >= 0, s"no log at $root")
      val cur = recordedProps(v).toSeq
        .flatMap(_.split(';').iterator.filter(_.contains('=')))
        .map { e =>
          val i = e.indexOf('=')
          (e.take(i), e.drop(i + 1))
        }.toMap
      val next = (cur ++ sets) -- removes
      // blooms = true: the clearance re-serializes live segments, so
      // sidecar hexes must be materialized or the re-add would shed
      // the filters it meant to keep
      val live = liveSegmentInfos(v, blooms = true)
      def changed(k: String): Boolean = cur.get(k) != next.get(k)
      // stale-metadata clearance (see the contract above): segments
      // whose recorded primary bounds / Bloom filters may belong to a
      // DIFFERENT config are re-added with those fields dropped. The
      // rule keys on the NEW config naming a column while the name
      // (or bloom sizing) CHANGES — including from-absent, so an
      // UNSET-then-SET two-step can never smuggle bounds recorded for
      // the old column past the clearance (the log does not attribute
      // the positional slot to a column; only a clean slate is safe).
      val dropStats = changed("statsCol") && next.contains("statsCol")
      val dropBloom = next.contains("bloomCol") &&
        (changed("bloomCol") || changed("bloomBits"))
      // the NAME-KEYED extra blooms (`bxs`) cannot be mis-attributed
      // by a membership change (a column re-entering bloomCols finds
      // its old hex still CORRECT — values are immutable and the hash
      // is a pure function of value and bits); only a bloomBits
      // change invalidates them, because the bit positions move
      val dropBxs = changed("bloomBits")
      val reAdds = live.filter(s =>
          (dropStats && s.min.nonEmpty) ||
          (dropBloom && s.bloom.nonEmpty) ||
          (dropBxs && s.bxs.nonEmpty))
        .map { s =>
          val a = if (dropStats)
            s.copy(min = None, max = None, num = false) else s
          val b = if (dropBloom) a.copy(bloom = None) else a
          if (dropBxs) b.copy(bxs = Map.empty) else b
        }
      val nextStats = next.get("statsCol")
      val nextStatsCols = next.get("statsCols").toSeq
        .flatMap(_.split(',').toSeq).map(_.trim).filter(_.nonEmpty)
      val nextBloom = next.get("bloomCol")
      val nextBloomCols = next.get("bloomCols").toSeq
        .flatMap(_.split(',').toSeq).map(_.trim).filter(_.nonEmpty)
      val nextBits = next.get("bloomBits").map(_.toInt).getOrElse(4096)
      (nextStats.toSeq ++ nextBloom.toSeq ++ nextStatsCols ++
        nextBloomCols).foreach(c =>
        require(!c.exists("|;\"\n=,".contains(_)),
          s"configured column name '$c' may not contain | ; = , " +
            "quote or newline"))
      require(nextBits > 0 && nextBits % 4 == 0,
        "bloomBits must be a positive multiple of 4 (hex-serialized)")
      val extras = next.view
        .filterKeys(!LogStore.EngineProps.contains(_)).toMap
      val encoded = LogStore.encodePropsFrom(nextStats, nextStatsCols,
        nextBloom, nextBits,
        next.get("dvDeletes").contains("true"), extras, nextBloomCols)
      // an empty cdc marker keeps the re-add commit dataChange=false:
      // without it the change feed would read the re-added segments
      // as fresh inserts and every mirror would double its rows
      val cdcMarker =
        if (reAdds.isEmpty) Nil
        else {
          import org.apache.spark.sql.functions.{lit => flit}
          Seq(writeChangeSegment(read(v).limit(0).repartition(1)
            .withColumn("_change_type", flit(""))))
        }
      commit(v + 1, reAdds, Nil, cdc = cdcMarker,
        props = Some(encoded.getOrElse("")))
    }
  }

  /** The recorded CHECK constraints (name → SQL expression). The
    * expression is stored base64url-without-padding under
    * `constraint.<name>` — CHECK SQL routinely contains '=' and
    * quotes, which the props grammar forbids in raw values. */
  def checkConstraints(version: Long = Long.MaxValue)
      : Map[String, String] =
    if (latestVersion() < 0) Map.empty
    else checkConstraintsOf(recordedProps(version))

  private def checkConstraintsOf(propsStr: Option[String])
      : Map[String, String] =
    propsStr.toSeq.flatMap(_.split(';'))
      .filter(e => e.startsWith("constraint.") && e.contains('='))
      .map { e =>
        val i = e.indexOf('=')
        (e.take(i).drop("constraint.".length),
          new String(java.util.Base64.getUrlDecoder.decode(
            e.drop(i + 1)), StandardCharsets.UTF_8))
      }.toMap

  /** ANSI CHECK violation: the expression evaluating to FALSE (NULL
    * passes). */
  private def checkViolation(cond: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce => fcoalesce, lit => flit, not => fnot}
    fnot(fcoalesce(cond, flit(true)))
  }

  /** Column names referenced by the recorded CHECK constraints —
    * parsed from the stored SQL (every unresolved attribute leaf);
    * the rename/drop refusal set: a stored expression names columns
    * as text, so renaming one out from under it would break every
    * subsequent write. */
  private def constraintColumns(propsStr: Option[String]): Set[String] =
    checkConstraintsOf(propsStr).values.toSeq.flatMap { sql =>
      spark.sessionState.sqlParser.parseExpression(sql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head
      }
    }.toSet

  /** ALTER TABLE ADD CONSTRAINT … CHECK (expr) — the ingest
    * data-quality gate a training pipeline runs on (Delta's
    * constraint lifecycle, re-derived): ANSI semantics (violation is
    * the expression being FALSE; NULL passes), EXISTING rows are
    * validated first (one stats-prunable scan — refuses with a sample
    * offender), then the expression lands as a metadata-only property
    * commit. From that commit on, every write that lands row bytes —
    * append, streaming epoch, MERGE, UPDATE rewrite, the clustered
    * DSv2 ingest — must satisfy it before its commit. A write racing
    * the property commit is re-validated after it lands: on a late
    * offender the constraint is removed again and the add refuses
    * loudly — the log never records a constraint its data does not
    * satisfy. */
  def addCheckConstraint(name: String, exprSql: String): Long = {
    require(name.nonEmpty &&
      name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name '$name' must match [A-Za-z0-9_]+")
    require(!checkConstraints().contains(name),
      s"CHECK constraint '$name' already exists — DROP it first")
    import org.apache.spark.sql.functions.{expr => fexpr}
    // analysis of the filter is the type gate: an unresolvable or
    // non-boolean expression refuses here, before anything commits.
    // The RESOLVED condition must also be deterministic and
    // subquery-free — a rand() constraint would pass validation and
    // then flake per write batch; a subquery would re-run per batch
    // against a moving table (neither is a row-local invariant)
    locally {
      val probe = read().limit(0)
        .where(checkViolation(fexpr(exprSql)))
        .queryExecution.analyzed
      val cond = probe.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }.getOrElse(throw new IllegalStateException(
        "constraint probe lost its filter"))
      require(cond.deterministic,
        s"CHECK constraint '$name' must be deterministic, got: " +
          exprSql)
      require(cond.collectFirst { case s: org.apache.spark.sql
          .catalyst.expressions.SubqueryExpression => s }.isEmpty,
        s"CHECK constraint '$name' may not contain a subquery: " +
          exprSql)
    }
    val offender =
      read().where(checkViolation(fexpr(exprSql))).limit(1).collect()
    require(offender.isEmpty,
      s"cannot add CHECK constraint '$name' ($exprSql): an existing " +
        s"row violates it: ${offender.mkString}")
    val enc = java.util.Base64.getUrlEncoder.withoutPadding()
      .encodeToString(exprSql.getBytes(StandardCharsets.UTF_8))
    val v = setPropertiesImpl(Map(s"constraint.$name" -> enc),
      Set.empty, engineManaged = true)
    val late =
      read().where(checkViolation(fexpr(exprSql))).limit(1).collect()
    if (late.nonEmpty) {
      setProperties(Map.empty, removes = Set(s"constraint.$name"))
      throw new IllegalStateException(
        s"CHECK constraint '$name' raced a write that violates it " +
          s"(${late.mkString}) — constraint removed, add refused")
    }
    v
  }

  /** ALTER TABLE DROP CONSTRAINT: metadata-only property removal —
    * writes stop validating from the commit on; time travel before it
    * still shows the constraint in `checkConstraints(version)`. */
  def dropCheckConstraint(name: String): Long = {
    require(checkConstraints().contains(name),
      s"no CHECK constraint '$name' on this table")
    setProperties(Map.empty, removes = Set(s"constraint.$name"))
  }

  /** The staged-bytes CHECK gate shared by every DSv2-landed commit
    * ([[publishSegments]] for append/clustered ingest,
    * [[publishReplace]] for INSERT OVERWRITE and the SQL
    * UPDATE/MERGE/DELETE rewrites): those files were written
    * executor-side, outside [[writeSegment]]'s throwing-filter pass,
    * so the recorded constraints validate the staged segments here —
    * one pushdown-friendly read of the batch, only for tables that
    * carry constraints; on refusal the staged segments are crash
    * orphans vacuum reclaims. A narrower staged write legally omits
    * columns — absent referenced columns pad in as typed NULLs (ANSI:
    * NULL passes), the same rule as the inline gate. */
  private def validateStagedChecks(names: Seq[String],
      writeSchema: org.apache.spark.sql.types.StructType): Unit = {
    if (names.isEmpty) return
    val cks = checkConstraints()
    if (cks.isEmpty) return
    import org.apache.spark.sql.functions.{col => fcol, expr => fexpr, lit => flit}
    val m = writeMapping(None)
    val phys = spark.read.parquet(names.map(n => s"$root/$n"): _*)
    val logical = phys.select(writeSchema.fields.toSeq.map(f =>
      fcol(m.getOrElse(f.name, f.name)).as(f.name)): _*)
    val v = latestVersion()
    val padded = constraintColumns(recordedProps(math.max(v, 0L)))
      .diff(writeSchema.fieldNames.toSet).toSeq.sorted
      .flatMap(n => (if (v < 0) None
        else replayTo(v).schemaB64.map(decodeSchema))
        .flatMap(_.fields.find(_.name == n)).map(f => (n, f.dataType)))
      .foldLeft(logical) { case (d, (n, dt)) =>
        d.withColumn(n, flit(null).cast(dt)) }
    cks.toSeq.sortBy(_._1).foreach { case (n, sql) =>
      val bad = padded.where(checkViolation(fexpr(sql)))
        .limit(1).collect()
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"CHECK constraint '$n' ($sql) violated by the staged " +
          s"write (${bad.mkString}) — nothing committed")
    }
  }

  /** CREATE TABLE: initialize an EMPTY table — version 0 carries only
    * the schema metadata action (plus this store's props), no data
    * segment. The SQL-catalog flow (CREATE then INSERT) and any
    * pipeline that declares shape before first data both need the
    * table to EXIST with a recorded schema; reads return zero rows of
    * that shape. Refuses if the table already exists. */
  def create(schema: org.apache.spark.sql.types.StructType): Long = {
    require(latestVersion() < 0, s"table already exists at $root")
    commit(0L, Nil, Nil, schema = Some(encodeSchema(schema)),
      props = encodeProps)
  }

  /** Append `df` as a new version; returns the committed version.
    * `baseVersion` is the snapshot the writer READ before producing
    * `df` — the commit lands at baseVersion+1 or throws
    * [[ConcurrentCommitException]] if another writer got there first
    * (the paper's optimistic loop: re-read, re-derive, retry). The
    * default re-reads latest at call time, which is correct for
    * blind appends but forfeits conflict detection for read-modify-
    * write transactions — those must pass the version they read. */
  def append(df: DataFrame,
      baseVersion: Long = Long.MinValue): Long = {
    val base =
      if (baseVersion == Long.MinValue) latestVersion() else baseVersion
    val (schemaAct, propsAct) = enforceSchema(df.schema, base)
    commit(base + 1, Seq(writeSegment(df, schemaAct)), Nil,
      schema = schemaAct, props = propsAct)
  }

  /** Idempotent streaming append — the paper's `txn` action: the
    * commit records the micro-batch id, and a replay of an
    * already-recorded batch is a NO-OP, so foreachBatch's
    * at-least-once delivery becomes exactly-once table content (the
    * fence the StreamingOps state maintainers share through
    * [[rebuildWithFence]]). Returns the committed version, or -1 for
    * a fenced replay. */
  def appendStream(df: DataFrame, batchId: Long): Long = {
    if (batchId <= lastTxn()) return -1L
    val base = latestVersion()
    val (schemaAct, propsAct) = enforceSchema(df.schema, base)
    commit(base + 1, Seq(writeSegment(df, schemaAct)), Nil,
      txn = Some(batchId), schema = schemaAct, props = propsAct)
  }

  /** Advance the stream-txn fence WITHOUT a data segment — the
    * zero-rows twin of [[appendStream]] for micro-batches that carry
    * nothing (a sync absorbing only dataChange=false source commits:
    * compaction, optimize, vacuum). The cursor moves in one txn-only
    * commit, no parquet write, no junk empty segment accumulating in
    * the target, and readChanges classifies the commit as contributing
    * nothing (no adds, no cdc). Same fencing contract: a replay
    * returns -1 and changes nothing. */
  def commitFence(batchId: Long): Long = {
    if (batchId <= lastTxn()) return -1L
    commit(latestVersion() + 1, Nil, Nil, txn = Some(batchId))
  }

  /** Write a CHANGE-DATA segment (rows + their `_change_type`) —
    * published by the `cdc` action, invisible to snapshot reads. */
  private def writeChangeSegment(df: DataFrame): String = {
    val name = s"cdc-${java.util.UUID.randomUUID().toString.take(12)}"
    df.write.parquet(s"$root/$name")
    name
  }

  /** Change Data Feed (the Delta paper's CDF layer): the row-level
    * changes committed in versions [fromVersion, toVersion], each
    * stamped `_change_type` ∈ {insert, update_preimage,
    * update_postimage, delete} and `_commit_version`. Per version:
    * an explicit `cdc` segment when the commit wrote one ([[merge]],
    * [[deleteWhere]]); otherwise a pure-add commit ([[append]] /
    * [[appendStream]]) IS its own change feed — the added segments
    * read back as inserts, Delta's add-file-implies-insert rule, so
    * the hot path (appends) pays zero extra writes. A rewrite commit
    * with no cdc action ([[compact]], [[vacuum]]'s horizon bump)
    * changed no data and contributes nothing — dataChange=false
    * semantics.
    *
    * This is what downstream INCREMENTAL consumers
    * (`StreamingOps.syncSumCountFromLog`, `syncLogToLog`,
    * `mirrorLogToLog`) read instead of diffing snapshots: O(changed
    * rows) per sync, not O(table). Reads behind the vacuum horizon
    * refuse loudly like time travel — their change segments may be
    * physically gone. */
  def readChanges(fromVersion: Long,
      toVersion: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions.{lit => flit}
    val latest = latestVersion()
    require(latest >= 0, s"no log at $root")
    val upTo = math.min(toVersion, latest)
    require(fromVersion >= 0 && fromVersion <= upTo,
      s"bad change range [$fromVersion, $toVersion]")
    requireReadable(fromVersion, replayTo(latest).vacuumHorizon)
    import org.apache.spark.sql.functions.{col => fcol, element_at,
      split => fsplit, typedLit}
    // classify the range driver-side, then read each KIND in ONE
    // batched scan (the per-segment reads paid one footer-inference
    // job per commit); `_commit_version` is recovered from the
    // segment directory name via a literal map — same value the
    // per-version stamp carried
    val cdcSegs = scala.collection.mutable.ListBuffer.empty[(String, Long)]
    val addSegs = scala.collection.mutable.ListBuffer.empty[(String, Long)]
    var firstKindCdc: Option[Boolean] = None
    var schemaChangedInRange = false
    (fromVersion to upTo).foreach { v =>
      val Actions(adds, removes, _, _, cdcs, schemas, _, _) =
        readActions(v)
      // a schema action STRICTLY AFTER the range start means files in
      // the range straddle two logical shapes (the action's own
      // version writes under the NEW shape) — only then is the
      // mergeSchema inference unavoidable
      if (v > fromVersion && schemas.nonEmpty) schemaChangedInRange = true
      if (cdcs.nonEmpty) {
        if (firstKindCdc.isEmpty) firstKindCdc = Some(true)
        cdcs.foreach(c => cdcSegs += ((c, v)))
      } else if (removes.isEmpty && adds.nonEmpty) {
        // a plain append's insert events present the CURRENT logical
        // names even when the files hold physical ones (rawToLogical)
        if (firstKindCdc.isEmpty) firstKindCdc = Some(false)
        adds.foreach(a => addSegs += ((a.name, v)))
      } // else compaction / vacuum / metadata-only: no data change
    }
    // recorded-schema planning (no footer-inference job) whenever the
    // range is schema-STABLE: every segment in it was written under
    // one logical shape — cdc segments hold that shape + _change_type
    // (logical names), insert segments its physical projection;
    // narrower writes null-fill by name exactly as mergeSchema would.
    // Pre-stamp logs and ranges spanning a schema change keep the
    // inference path.
    val stableSchema: Option[org.apache.spark.sql.types.StructType] =
      if (schemaChangedInRange) None
      else replayTo(upTo).schemaB64.map(decodeSchema)
    def verStamp(m: Map[String, Long]) = element_at(typedLit(m),
      element_at(fsplit(fcol("_metadata.file_path"), "/"), -2))
    // mergeSchema within each batched read + allowMissingColumns on
    // the union: a feed spanning a schema evolution carries both
    // shapes — pre-evolution changes read null in added columns
    val cdcDf =
      if (cdcSegs.isEmpty) None
      else {
        val rd = stableSchema match {
          case Some(sc) => spark.read.schema(
            org.apache.spark.sql.types.StructType(sc.fields :+
              org.apache.spark.sql.types.StructField("_change_type",
                org.apache.spark.sql.types.StringType)))
          case None => spark.read.option("mergeSchema", "true")
        }
        Some(rd.parquet(cdcSegs.map(c => s"$root/${c._1}").toSeq: _*)
          .withColumn("_commit_version", verStamp(cdcSegs.toMap)))
      }
    val addsDf =
      if (addSegs.isEmpty) None
      else {
        val rd = stableSchema match {
          case Some(sc) => spark.read.schema(
            org.apache.spark.sql.types.StructType(sc.fields.map(f =>
              f.copy(name = LogStore.physicalName(f)))))
          case None => spark.read.option("mergeSchema", "true")
        }
        Some(rawToLogical(
            rd.parquet(addSegs.map(a => s"$root/${a._1}").toSeq: _*)
              .withColumn("_cv_tmp", verStamp(addSegs.toMap)),
            keep = Seq("_cv_tmp"))
          .withColumn("_change_type", flit("insert"))
          .withColumn("_commit_version", fcol("_cv_tmp"))
          .drop("_cv_tmp"))
      }
    (cdcDf, addsDf) match {
      case (Some(c), Some(a)) =>
        if (firstKindCdc.contains(true))
          c.unionByName(a, allowMissingColumns = true)
        else a.unionByName(c, allowMissingColumns = true)
      case (Some(c), None) => c
      case (None, Some(a)) => a
      case (None, None) =>
        read(upTo).where(flit(false))
          .withColumn("_change_type", flit(""))
          .withColumn("_commit_version", flit(-1L))
    }
  }

  /** Logical delete: rewrite the rows NOT matching `predicate` into a
    * new segment, remove every current segment — one commit, prior
    * snapshots untouched. (Without per-segment stats this rewrites
    * the whole table; add-file pruning by min/max stats is the
    * optimization the paper layers on.) The deleted rows land in the
    * commit's change segment as `delete` rows — the CDF event. A row
    * whose predicate is NULL does not match, so it is kept (SQL
    * `DELETE … WHERE` semantics). */
  def deleteWhere(predicate: String): Long = {
    import org.apache.spark.sql.functions.{coalesce => fcoalesce,
      expr => fexpr, lit => flit, not => fnot}
    val v = latestVersion()
    val old = liveSegments(v)
    val cond = fexpr(predicate)
    val kept = read(v).where(fnot(fcoalesce(cond, flit(false))))
    val gone = read(v).where(cond)
      .withColumn("_change_type", flit("delete"))
    // the kept rewrite and the cdc segment are independent scans of
    // the same immutable snapshot — overlap their writes (§2.6)
    val (keptSeg, goneSeg) =
      par2(writeSegment(kept), writeChangeSegment(gone))
    commit(v + 1, Seq(keptSeg), old, cdc = Seq(goneSeg))
  }

  /** The current vacuum horizon (oldest fully-readable version; -1 =
    * never vacuumed) — the guard a streaming consumer checks before
    * planning a read over historical versions. */
  def currentVacuumHorizon(): Long = {
    val latest = latestVersion()
    if (latest < 0) -1L else replayTo(latest).vacuumHorizon
  }

  /** The change-bearing segment directories of version `v`, with the
    * implied change type when the commit's shape implies one — the
    * per-version planning unit of the native streaming source
    * ([[graft.sources.LogStreamProvider]]): an explicit cdc segment
    * carries its own `_change_type` column (None); a pure-add commit
    * IS its inserts (Some("insert")); a rewrite without a cdc action
    * (compact / optimize / vacuum / fence) changed nothing (empty). */
  private[graft] def changeSegmentsOf(v: Long)
      : Seq[(String, Option[String])] = {
    val Actions(adds, removes, _, _, cdcs, _, _, _) = readActions(v)
    if (cdcs.nonEmpty) cdcs.map(c => (c, None))
    else if (removes.isEmpty && adds.nonEmpty)
      adds.map(a => (a.name, Some("insert")))
    else Nil
  }

  /** One commit's action shape (add names, removes, cdc segments) —
    * what a tailing consumer needs to classify it. */
  /** One commit's action shape (add names, removes, cdc segments,
    * dv attachments) — what a tailing consumer needs to classify it. */
  private[graft] def commitShape(v: Long)
      : (Seq[String], Seq[String], Seq[String]) = {
    val a = readActions(v)
    // a DV attachment is a data change a bare-table (append-only)
    // consumer cannot represent — surface it like a cdc commit
    (a.adds.map(_.name), a.removes, a.cdcs ++ a.dvs.map(_._2))
  }

  final case class DeleteResult(version: Long, rewritten: Int, live: Int)

  /** Stats-pruned logical delete — the 100 TB form of [[deleteWhere]]:
    * remove the rows whose stats column `c` lies in [lo, hi],
    * rewriting ONLY the live segments whose recorded bounds may
    * overlap the range — every other segment carries over untouched in
    * the same commit (the pruning contract of [[merge]], applied to
    * deletes: a one-day retention purge on a date-clustered 100 TB
    * table rewrites that day's segments, not the table). Works on any
    * configured stats column (primary or extra); segments without
    * bounds for `c` are rewritten (the per-column safe default). Rows
    * with NULL in `c` never match a range and are always kept. The
    * deleted rows land in the commit's change segment as `delete`
    * rows — the same CDF event [[deleteWhere]] emits. A range no
    * segment can contain is a NO-OP: no rewrite, no commit. */
  def deleteRange(c: String, lo: String, hi: String): DeleteResult = {
    import org.apache.spark.sql.functions.{coalesce => fcoalesce,
      col => fcol, lit => flit, not => fnot}
    require(statsCol.contains(c) || statsCols.contains(c),
      s"'$c' is not a configured stats column (statsCol/statsCols)")
    val v = latestVersion()
    val live = liveSegmentInfos(v)
    val touched = live.filter(_.mayOverlapOn(c, lo, hi))
    if (touched.isEmpty) return DeleteResult(v, 0, live.size)
    // the rewrite and the feed land on the table's full recorded
    // shape (evolved columns null-fill), exactly what readers present
    val data = scanSegments(touched, v)
    val dt = data.schema(c).dataType
    val cond = fcol(c).between(flit(lo).cast(dt), flit(hi).cast(dt))
    val kept = data.where(fnot(fcoalesce(cond, flit(false))))
    val gone = data.where(cond)
      .withColumn("_change_type", flit("delete"))
    // independent scans of the same immutable snapshot — overlap (§2.6)
    val (keptSeg, goneSeg) =
      par2(writeSegment(kept), writeChangeSegment(gone))
    DeleteResult(
      commitRevalidated(v, Seq(keptSeg),
        touched.map(_.name),
        ReadSet(touched.map(_.name).toSet, Some((c, lo, hi))),
        cdc = Seq(goneSeg)),
      touched.size, live.size)
  }

  final case class DvDeleteResult(version: Long, touched: Int,
      deletedRows: Long, live: Int)

  /** MERGE-ON-READ point delete — deletion vectors, the 100 TB answer
    * to GDPR-style SCATTERED deletes that copy-on-write cannot price:
    * [[deleteWhere]]/[[deleteRange]] rewrite every overlapping
    * segment, so a 10-row delete against a cold 1 GB segment costs
    * 1 GB; this writes a DV SIDECAR instead — (file, position) rows,
    * one `dv-*` parquet directory per touched segment — and attaches
    * it in one commit (`dv` actions). Cost ∝ matched rows + a
    * position scan of the candidate segments; ZERO data bytes are
    * rewritten. Every read path reconciles through [[scanSegments]]'s
    * anti-join; a second delete on the same segment MERGES positions
    * (the old vector's rows union the new — and already-deleted rows
    * never re-match, so the feed never double-reports); the deleted
    * rows land in the commit's change segment as honest `delete`
    * events. Rewrites that replace a segment (optimize / merge /
    * delete / compact) consume its vector; `optimizeWhere(withDeletes
    * = true)` is the explicit DV-compaction selector.
    *
    * Stats bounds stay as written — a superset after deletion, so
    * segment pruning remains sound; MIN/MAX aggregate pushdown
    * refuses dv-carrying segments (the extremum may be deleted) while
    * COUNT(*) stays exact via the recorded per-vector row counts.
    *
    * Prior snapshots are untouched: time travel before the commit
    * reads the segment whole (the vector is version-scoped state,
    * like any other action). A no-match delete is a commit-free
    * no-op. */
  def deleteWhereDV(predicate: String): DvDeleteResult = {
    import org.apache.spark.sql.functions.{expr => fexpr}
    val v = latestVersion()
    dvDelete(liveSegmentInfos(v), _.where(fexpr(s"($predicate)")), v)
  }

  /** [[deleteWhereDV]] with stats pruning: only segments whose
    * recorded bounds on `c` may overlap [lo, hi] are position-scanned
    * — the candidate-selection economics of [[deleteRange]], with the
    * DV write replacing the segment rewrite. The predicate is built
    * with Column expressions against the scanned data's own type —
    * the same data-typed comparison as [[deleteRange]], no SQL string
    * interpolation to break on exotic bound spellings. */
  def deleteRangeDV(c: String, lo: String, hi: String): DvDeleteResult = {
    import org.apache.spark.sql.functions.{col => fcol, lit => flit}
    require(statsCol.contains(c) || statsCols.contains(c),
      s"'$c' is not a configured stats column (statsCol/statsCols)")
    val v = latestVersion()
    val live = liveSegmentInfos(v)
    val touched = live.filter(_.mayOverlapOn(c, lo, hi))
    dvDelete(touched,
      df => {
        val dt = df.schema(c).dataType
        df.where(fcol(c).between(flit(lo).cast(dt), flit(hi).cast(dt)))
      }, v, live.size, range = Some((c, lo, hi)))
  }

  /** Merge-on-read delete BY KEY SET — the distributed form scattered
    * key deletes need when the key list is itself a DataFrame (a
    * change feed's deleted ids, a GDPR manifest): rows whose `keyCols`
    * tuple appears in `keys` gain deletion-vector entries, selected by
    * a semi-join instead of a driver-side IN-list, so the key set
    * never collects. Same economics and commit shape as
    * [[deleteWhereDV]]; an unbounded key set may match any
    * concurrently-added row (conservative re-validation). */
  def deleteKeysDV(keys: DataFrame, keyCols: Seq[String])
      : DvDeleteResult = {
    require(keyCols.nonEmpty, "deleteKeysDV needs at least one key column")
    import org.apache.spark.sql.functions.{col => fcol}
    val v = latestVersion()
    dvDelete(liveSegmentInfos(v),
      _.join(keys.select(keyCols.map(fcol): _*).distinct(),
        keyCols, "left_semi"), v)
  }

  private def dvDelete(candidates: Seq[Segment],
      select: DataFrame => DataFrame,
      v: Long, liveCount: Int = -1,
      range: Option[(String, String, String)] = None): DvDeleteResult = {
    import org.apache.spark.sql.functions.{col => fcol,
      count => fcount, element_at, lit => flit, split => fsplit}
    val live = if (liveCount >= 0) liveCount else candidates.size
    if (candidates.isEmpty) return DvDeleteResult(v, 0, 0L, live)
    // matching rows first — `select` keeps only matching rows (a
    // `where` with SQL NULL semantics, or a semi-join for key sets);
    // a bare predicate still pushes into the parquet scan below the
    // metadata projection (row-group pruning on a clustered key makes
    // a point delete decode ~the matching groups, not the segment).
    // Rows ALREADY in a vector are then anti-joined out, so they
    // never re-delete and never re-report in the feed.
    // the recorded schema (physical names) is the superset of every
    // candidate segment's file schema, so passing it explicitly reads
    // evolved tables correctly (absent columns null-fill) WITHOUT the
    // footer-merging job mergeSchema=true schedules per delete;
    // pre-stamp legacy logs keep the mergeSchema read
    val candPaths = candidates.map(s => s"$root/${s.name}")
    val candReader = recordedSchema(v) match {
      case Some(sc) => spark.read.schema(
        org.apache.spark.sql.types.StructType(
          sc.fields.map(f => f.copy(name = LogStore.physicalName(f)))))
        .parquet(candPaths: _*)
      case None =>
        spark.read.option("mergeSchema", "true").parquet(candPaths: _*)
    }
    val matchedRaw = select(rawToLogical(
      candReader
        .withColumn("_dv_seg",
          element_at(fsplit(fcol("_metadata.file_path"), "/"), -2))
        .withColumn("_dv_file", fcol("_metadata.file_name"))
        .withColumn("_dv_pos", fcol("_metadata.row_index")),
      keep = Seq("_dv_seg", "_dv_file", "_dv_pos")))
    val priorDv = candidates.filter(_.dv.nonEmpty).map { s =>
      spark.read.schema(LogStore.dvSchema)
        .parquet(s"$root/${s.dv.get._1}")
        .select(flit(s.name).as("_dv_seg"), fcol("file").as("_dv_file"),
          fcol("pos").as("_dv_pos"))
    }
    val matched =
      (if (priorDv.isEmpty) matchedRaw
       else matchedRaw.join(
         org.apache.spark.sql.functions.broadcast(
           priorDv.reduce(_.unionByName(_))),
         Seq("_dv_seg", "_dv_file", "_dv_pos"), "left_anti"))
      .cache()
    try {
      val perSeg = matched.groupBy(fcol("_dv_seg"))
        .agg(fcount(flit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      if (perSeg.isEmpty) return DvDeleteResult(v, 0, 0L, live)
      val bySeg = candidates.map(s => s.name -> s).toMap
      // new vector content per touched segment: prior positions ∪ new
      val newPositions = matched
        .select(fcol("_dv_seg"), fcol("_dv_file").as("file"),
          fcol("_dv_pos").as("pos"))
      val oldDv = candidates.filter(s =>
          perSeg.contains(s.name) && s.dv.nonEmpty)
        .map { s =>
          spark.read.schema(LogStore.dvSchema)
            .parquet(s"$root/${s.dv.get._1}")
            .select(flit(s.name).as("_dv_seg"), fcol("file"),
              fcol("pos"))
        }
      val combined = oldDv.foldLeft(newPositions)(_.unionByName(_))
      // the honest CDF events: exactly the newly-deleted rows
      val gone = matched
        .drop("_dv_seg", "_dv_file", "_dv_pos")
        .withColumn("_change_type", flit("delete"))
      // the vector write (+ per-segment renames) and the cdc segment
      // both read only the cached `matched` set — overlap them (§2.6)
      val (dvActions, goneSeg) = par2({
        // one partitioned write, then each bucket renamed to its dv dir
        val tmp = s"$root/_opt-dv-${java.util.UUID.randomUUID()
          .toString.take(12)}"
        combined.write.partitionBy("_dv_seg").parquet(tmp)
        val acts = perSeg.keys.toSeq.sorted.map { seg =>
          val dvName = s"dv-${java.util.UUID.randomUUID().toString
            .take(12)}"
          if (!fs.rename(new Path(s"$tmp/_dv_seg=$seg"),
              new Path(s"$root/$dvName")))
            throw new java.io.IOException(s"dv rename for $seg failed")
          val totalDeleted =
            perSeg(seg) + bySeg(seg).dv.map(_._2).getOrElse(0L)
          (seg, dvName, totalDeleted)
        }
        fs.delete(new Path(tmp), true)
        acts
      }, writeChangeSegment(gone))
      val version = commitRevalidated(v, Nil, Nil,
        // the vectors were derived from the touched segments' content
        // + prior vectors; an unbounded predicate may match any
        // concurrently-added row
        ReadSet(dvActions.map(_._1).toSet, range,
          matchesAnyNewRow = range.isEmpty),
        cdc = Seq(goneSeg), dvActions = dvActions)
      DvDeleteResult(version, dvActions.size,
        perSeg.values.sum, live)
    } finally matched.unpersist()
  }

  /** What a read-modify-write transaction READ — the evidence its
    * conflict re-validation checks a concurrent winner against:
    * `readSegments` are the live segments whose content the loser's
    * outcome depends on (the ones it rewrites, or attaches a vector
    * to); `range` is the key/predicate interval (on a stats column)
    * its row selection was bounded by; `matchesAnyNewRow` says the
    * selection cannot be bounded (an unpruned merge, an arbitrary
    * predicate) — any concurrently-added row might have matched. */
  private[graft] final case class ReadSet(readSegments: Set[String],
      range: Option[(String, String, String)] = None,
      matchesAnyNewRow: Boolean = false)

  /** Delta-style CONFLICT RE-VALIDATION for read-modify-write
    * commits — the difference between "a concurrent append makes the
    * weekly maintenance job re-run wholesale" and "disjoint writers
    * simply both land": on a lost commit race, instead of giving up,
    * re-examine every winner commit between the version this
    * transaction READ and the current head. The loser may re-commit
    * its UNCHANGED actions at the new head iff every winner is
    * DISJOINT from its read set:
    *
    *  - no winner removed (or re-wrote, or attached a deletion vector
    *    to) a segment in `readSegments` — the loser's rewrite was
    *    derived from content that no longer exists;
    *  - no winner added a segment whose recorded stats may overlap
    *    the loser's `range` — rows the loser's selection SHOULD have
    *    seen (the write-serializable read-predicate check; winners
    *    without usable stats conflict by the safe default);
    *  - `matchesAnyNewRow` transactions conflict with ANY added
    *    segment.
    *
    * Anything non-disjoint rethrows the original
    * [[ConcurrentCommitException]] — the caller re-derives from a
    * fresh snapshot, exactly as before. Vacuum-horizon and fence
    * commits are always compatible (they change no live content). */
  /** The compatibility test [[commitRevalidated]] applies to each
    * winner in `(from, to]`, reusable on its own: true iff every
    * winner is DISJOINT from the read set —
    *
    *  - none removed / rewrote / attached a deletion vector to a
    *    `readSegments` member;
    *  - none changed table METADATA (a schema evolution or props
    *    re-stamp conflicts with any racing transaction: replay takes
    *    the LAST schema action, so re-committing content computed
    *    against the stale snapshot would clobber or bypass it —
    *    Delta's conflict checker fails these the same way);
    *  - no added segment may hold a row the reader's selection
    *    should have seen: `matchesAnyNewRow` readers conflict with
    *    ANY add, `range` readers with adds whose stats may overlap.
    *
    * Fence and vacuum-horizon commits change no live content and are
    * always compatible. Besides the retry loop, the row-level no-op
    * path uses this directly: a DML whose selection came back EMPTY
    * commits nothing, but may declare a clean no-op only if nothing
    * that landed since its pinned read could have changed that. */
  private[graft] def winnersDisjoint(from: Long, to: Long,
      readSet: ReadSet): Boolean =
    (from + 1 to to).forall { v =>
      val a = readActions(v)
      !a.removes.exists(readSet.readSegments.contains) &&
        !a.dvs.exists(d => readSet.readSegments.contains(d._1)) &&
        a.schemas.isEmpty && a.props.isEmpty &&
        (a.adds.isEmpty ||
          (!readSet.matchesAnyNewRow && readSet.range.forall {
            case (c, lo, hi) =>
              !a.adds.exists(_.mayOverlapOn(c, lo, hi))
          }))
    }

  private[graft] def commitRevalidated(readVersion: Long,
      adds: Seq[Segment], removes: Seq[String],
      readSet: ReadSet,
      txn: Option[Long] = None, cdc: Seq[String] = Nil,
      schema: Option[String] = None, props: Option[String] = None,
      dvActions: Seq[(String, String, Long)] = Nil): Long = {
    var base = readVersion
    def rebase(): Boolean = {
      val latest = latestVersion()
      val disjoint = winnersDisjoint(base, latest, readSet)
      if (disjoint) base = latest
      disjoint
    }
    retryCommits(canRetry = () => rebase()) {
      commit(base + 1, adds, removes, txn = txn, cdc = cdc,
        schema = schema, props = props, dvs = dvActions)
    }
  }

  /** Append `df` as `targetSegments` RANGE-CLUSTERED segments in ONE
    * commit — the programmatic ingest twin of the DSv2 `clusterBy`
    * sink for writers whose payloads that sink refuses (array
    * columns: embeddings, token vectors). One range shuffle, one
    * write job whose every task lands one bucket as its own segment
    * and records its stats ([[rewriteClustered]], the [[optimize]]
    * kernel), one commit; the serial alternative is one commit per
    * range slice, each paying its own write. Defaults and CHECK
    * constraints apply exactly as [[append]]; column mapping resolves
    * against the recorded schema like every staged write.
    * Blind-append retry semantics on a lost commit race. */
  def appendClustered(df: DataFrame,
      clusterBy: org.apache.spark.sql.Column,
      targetSegments: Int): Long = {
    require(targetSegments >= 1, "targetSegments must be positive")
    // a lost race leaves the written segments as crash orphans (vacuum
    // reclaims); the retry re-derives against the new head like append
    retryCommits() {
      val base = latestVersion()
      val (schemaAct, propsAct) = enforceSchema(df.schema, base)
      val adds = rewriteClustered(enforceChecks(padDefaults(df)),
        targetSegments, Seq(clusterBy))
      commit(base + 1, adds, Nil, schema = schemaAct, props = propsAct)
    }
  }

  /** Optimistic-retry wrapper for BLIND appends: on a lost commit
    * race, re-read latest and retry (the paper's retry loop), bounded
    * by `maxAttempts`. Correct ONLY because a blind append's content
    * does not depend on the snapshot it lands on; read-modify-write
    * transactions (merge, optimize, deleteRange) must re-DERIVE from
    * the new snapshot instead — blindly recommitting those here would
    * reintroduce exactly the lost updates the version check exists to
    * prevent, which is why they do not get a retry wrapper. */
  def appendWithRetry(df: DataFrame,
      maxAttempts: Int = LogStore.CommitAttempts): Long =
    retryCommits(maxAttempts)(append(df))

  /** Atomic REBUILD of a derived table: replace the ENTIRE live
    * content with `df` (range-clustered like optimize when
    * `clusterBy` is given), advance the stream-txn fence to
    * `batchId`, and optionally update table properties — all in ONE
    * commit. The shape an index/materialization maintainer needs for
    * crash-consistent retrains: a crashed rebuild leaves the old
    * content, old fence AND old props intact (the rebuild simply
    * replays), a replayed `batchId` is a no-op returning -1, and a
    * generation stamp in `setProps` becomes visible atomically WITH
    * the content it describes. The commit is a data-changing rewrite
    * with no cdc diff — feeds over a rebuilt table refuse loudly at
    * that version, as they do for any uncatalogued rewrite (derived
    * state is re-derived, not mirrored). */
  def rebuildWithFence(df: DataFrame, batchId: Long,
      targetSegments: Int = 8,
      clusterBy: Seq[org.apache.spark.sql.Column] = Nil,
      setProps: Map[String, String] = Map.empty): Long = {
    if (batchId <= lastTxn()) return -1L
    val v = latestVersion()
    require(v >= 0, s"no log at $root")
    val old = liveSegments(v)
    val (schemaAct, propsAct0) = enforceSchema(df.schema, v)
    val propsAct =
      if (setProps.isEmpty) propsAct0
      else {
        setProps.foreach { case (k, vv) =>
          require(k.nonEmpty && !(k + vv).exists(";\"\n=".contains(_)),
            s"property '$k' may not contain ; = quote or newline")
        }
        val cur = recordedProps(v).toSeq
          .flatMap(_.split(';').iterator.filter(_.contains('=')))
          .map { e =>
            val i = e.indexOf('='); (e.take(i), e.drop(i + 1))
          }.toMap
        val next = cur ++ setProps
        val extras = next.view
          .filterKeys(!LogStore.EngineProps.contains(_)).toMap
        Some(LogStore.encodePropsFrom(
          next.get("statsCol"),
          next.get("statsCols").toSeq.flatMap(_.split(',').toSeq)
            .map(_.trim).filter(_.nonEmpty),
          next.get("bloomCol"),
          next.get("bloomBits").map(_.toInt).getOrElse(4096),
          next.get("dvDeletes").contains("true"), extras,
          next.get("bloomCols").toSeq.flatMap(_.split(',').toSeq)
            .map(_.trim).filter(_.nonEmpty))
          .getOrElse(""))
      }
    val adds = rewriteClustered(df, targetSegments, clusterBy)
    commit(v + 1, adds, old, txn = Some(batchId),
      schema = schemaAct, props = propsAct)
  }

  /** Compaction: same rows, one segment — the small-files fix. The
    * snapshot BEFORE compaction remains readable at its version. */
  def compact(): Long = {
    val v = latestVersion()
    val old = liveSegments(v)
    // layout-only: concurrent appends are compatible (re-validated),
    // touching the compacted segments is not
    commitRevalidated(v, Seq(writeSegment(read(v))), old,
      ReadSet(old.toSet))
  }

  final case class OptimizeResult(version: Long, rewritten: Int,
      produced: Int, carried: Int = 0)

  /** OPTIMIZE — the periodic maintenance command a 100 TB table runs
    * weekly: rewrite the live segment set into `targetSegments`
    * segments RANGE-CLUSTERED on `clusterBy` (typically a
    * space-filling-curve index column — hilbertValue / zValue
    * materialized at ingest — set as the [statsCol]), so per-segment
    * min/max become tight disjoint ranges and the skipping reads
    * ([[readRange]] / [[readRanges]] / rectScanClustered) prune most
    * of the table instead of none of it. Same rows, new layout:
    *
    *  - snapshot-invariant: ONE commit adds the clustered segments
    *    and removes every prior live one; readers pinned to the old
    *    version keep their snapshot, time travel intact.
    *  - dataChange=false: the commit carries no cdc action, and
    *    [[readChanges]] classifies an adds+removes commit without one
    *    as contributing NOTHING — incremental consumers skip the
    *    rewrite entirely (the same contract as [[compact]]).
    *  - read-modify-write: lands at readVersion+1 or throws
    *    [[ConcurrentCommitException]] — a racing append can never be
    *    silently dropped by the rewrite. Output segments whose commit
    *    lost the race are crash orphans; [[vacuum]]'s orphan path
    *    reclaims them.
    *
    * With no `clusterBy` this degrades to pure BIN-PACKING:
    * compaction into `targetSegments` evenly-sized segments — the
    * small-files fix with a bounded output count (a round-robin
    * shuffle instead of a range one).
    *
    * Scale shape: cost ∝ rewritten bytes — exactly one shuffle (the
    * range partitioner over the cluster key) across the live data and
    * one write job, each range bucket landing as its own segment in
    * one task (never one filtered scan per output segment), which
    * records the bucket's rows, bounds and Bloom bits. */
  def optimize(targetSegments: Int, clusterBy: org.apache.spark.sql.Column*)
      : OptimizeResult = {
    require(targetSegments >= 1, "targetSegments must be positive")
    val v = latestVersion()
    val old = liveSegments(v)
    val data = read(v)
    val adds = rewriteClustered(data, targetSegments, clusterBy)
    // layout-only rewrite: a concurrent APPEND is compatible (its
    // segment simply stays un-optimized this round) — only a writer
    // that touched the segments being replaced is a real conflict
    OptimizeResult(
      commitRevalidated(v, adds, old, ReadSet(old.toSet)),
      old.size, adds.size)
  }

  /** The clustered-rewrite kernel shared by [[optimize]],
    * [[optimizeWhere]] (and so [[maintainLayout]]) and
    * [[appendClustered]]: one range shuffle (or round-robin when no
    * cluster key) across `data` into `targetSegments` partitions, then
    * ONE write job in which each task writes its partition as one
    * segment — one task is one bucket is one segment, never one
    * filtered scan per output segment — and records its rows, bounds
    * and Bloom bits ([[writeStaged]]). Returns the add actions;
    * nothing is published until the caller commits. */
  private def rewriteClustered(data: DataFrame, targetSegments: Int,
      clusterBy: Seq[org.apache.spark.sql.Column]): Seq[Segment] = {
    val arranged =
      if (clusterBy.isEmpty) data.repartition(targetSegments)
      else data.repartitionByRange(targetSegments, clusterBy: _*)
    // under column mapping the rewrite lands PHYSICAL names; the
    // renaming projection keeps the partitions
    segmentsMeta(writeStaged(toPhysicalDf(arranged, writeMapping(None)),
      data.columns.toSeq, perTask = true), data.schema)
  }

  /** Physical size of one live segment directory — an ops-command
    * helper (never on the read path): one filesystem summary call. */
  private def segmentBytes(s: Segment): Long =
    LogStore.segmentBytesOf(fs, root, s.name)

  /** A segment's VECTOR PRESSURE: deleted rows / total rows, from the
    * recorded counts alone (no I/O). 0 without a vector; a vector on
    * a segment with no recorded row count reads as full pressure —
    * the safe default for a maintenance selector (at worst one
    * unnecessary rewrite, never an unreadably-degraded scan). */
  private def dvPressure(s: Segment): Double = s.dv match {
    case None => 0.0
    case Some((_, n)) => s.rows match {
      case Some(total) if total > 0 => n.toDouble / total.toDouble
      case _ => 1.0
    }
  }

  /** SUBSET OPTIMIZE — the form the weekly maintenance command must
    * take on a 100 TB table, where a full-table rewrite
    * ([[optimize]]) is not a command, it's an outage: rewrite ONLY
    * the live segments that need it, carrying every other segment
    * over untouched (the same segments, by name) in the same commit —
    * the pruning contract [[deleteRange]] and [[mergeKeyed]] already
    * follow, applied to layout maintenance. Cost ∝ SELECTED bytes,
    * never table bytes.
    *
    * Selection is the intersection of the selectors given (at least
    * one required):
    *  - `preds` (col, lo, hi)*: segments whose recorded stats may
    *    overlap EVERY predicate — "re-cluster this key range / this
    *    day". Columns must be configured stats columns; segments
    *    without bounds for a column are selected for it (the safe
    *    default — an unknown segment may need the rewrite).
    *  - `minSegmentBytes` > 0: segments physically smaller than the
    *    threshold — "fix the small files", Delta's OPTIMIZE file
    *    filter. Sizing is one filesystem summary per candidate,
    *    driver-side, ops-command economics.
    *  - `withDeletes`: every segment carrying a deletion vector —
    *    the explicit full DV-compaction selector.
    *  - `minDvFraction` > 0: segments whose VECTOR PRESSURE (recorded
    *    dv rows / recorded rows) reached the fraction — the targeted
    *    DV compaction: fold merge-on-read debt back into clean
    *    segments only where it is actually heavy, leaving
    *    lightly-vectored cold segments alone (rewriting a 1 GB
    *    segment to drop 10 tombstones is the cost model DVs exist to
    *    avoid). A dv-carrying segment with no recorded row count is
    *    selected (the safe default — unknown pressure may be high).
    *
    * An empty selection is a commit-free NO-OP (version unchanged) —
    * running maintenance on a healthy table must cost nothing.
    * Everything else matches [[optimize]]: snapshot-invariant single
    * commit, dataChange=false in the feed, read-modify-write
    * concurrency (a racing append surfaces as
    * [[ConcurrentCommitException]], never a lost row). */
  def optimizeWhere(targetSegments: Int,
      preds: Seq[(String, String, String)] = Nil,
      minSegmentBytes: Long = 0L,
      clusterBy: Seq[org.apache.spark.sql.Column] = Nil,
      withDeletes: Boolean = false,
      minDvFraction: Double = 0.0)
      : OptimizeResult = {
    require(targetSegments >= 1, "targetSegments must be positive")
    require(minDvFraction >= 0.0 && minDvFraction <= 1.0,
      "minDvFraction is a fraction of a segment's rows")
    require(preds.nonEmpty || minSegmentBytes > 0L || withDeletes ||
        minDvFraction > 0.0,
      "subset optimize needs a selector: stats predicates, a " +
        "small-segment byte threshold, withDeletes and/or " +
        "minDvFraction (optimize() is the full rewrite)")
    preds.foreach { case (c, _, _) =>
      require(statsCol.contains(c) || statsCols.contains(c),
        s"'$c' is not a configured stats column (statsCol/statsCols)")
    }
    val v = latestVersion()
    val live = liveSegmentInfos(v)
    // withDeletes: DV COMPACTION — also select every segment carrying
    // a deletion vector, so the weekly maintenance pass folds
    // merge-on-read debt back into clean segments (the rewrite reads
    // DV-aware; the replaced segment's vector dies with it)
    val selected = live.filter { s =>
      (preds.forall { case (c, lo, hi) => s.mayOverlapOn(c, lo, hi) } &&
        (preds.nonEmpty || minSegmentBytes > 0L) &&
        (minSegmentBytes <= 0L || segmentBytes(s) < minSegmentBytes)) ||
      (withDeletes && s.dv.nonEmpty) ||
      (minDvFraction > 0.0 && dvPressure(s) >= minDvFraction)
    }
    if (selected.isEmpty)
      return OptimizeResult(v, 0, 0, carried = live.size)
    // the rewrite lands on the full recorded shape (see deleteRange)
    val data = scanSegments(selected, v)
    val adds = rewriteClustered(data, targetSegments, clusterBy)
    OptimizeResult(
      commitRevalidated(v, adds, selected.map(_.name),
        ReadSet(selected.map(_.name).toSet)),
      selected.size, adds.size, carried = live.size - selected.size)
  }

  final case class MaintainResult(triggered: Boolean, smallBefore: Int,
      result: Option[OptimizeResult], dvPressured: Int = 0)

  /** Auto bin-pack + DV-compaction policy — the hands-off wrapper a
    * streaming ingest (one small segment per micro-batch) or a
    * merge-on-read delete stream needs. Two independent debt rules:
    *
    *  - **small files**: when the number of live segments under
    *    `minSegmentBytes` reaches `smallSegmentLimit`, bin-pack JUST
    *    those segments into ceil(smallBytes / maxSegmentBytes)
    *    outputs (re-clustered on `clusterBy` when given), carrying
    *    every healthy segment over untouched.
    *  - **vector pressure**: when ANY segment's deletion vector holds
    *    ≥ `dvFraction` of its recorded rows, rewrite exactly the
    *    pressured segments (consuming their vectors) — merge-on-read
    *    stays hands-off: scattered deletes write cheap sidecars, and
    *    the read-side reconciliation cost is folded back into clean
    *    segments before it compounds. `dvFraction` = 0 disables.
    *
    * Below both thresholds it is a commit-free no-op, so calling it
    * after every ingest/delete batch is safe — segment count stays
    * bounded and vector debt stays fractional forever. Both debt
    * counts ride in the result (and [[describeDetail]]'s readiness
    * numbers cover the small-file half). */
  def maintainLayout(minSegmentBytes: Long, smallSegmentLimit: Int = 8,
      maxSegmentBytes: Long = 128L << 20,
      clusterBy: Seq[org.apache.spark.sql.Column] = Nil,
      dvFraction: Double = 0.5)
      : MaintainResult = {
    require(minSegmentBytes > 0L, "minSegmentBytes must be positive")
    require(smallSegmentLimit >= 2,
      "a limit below 2 would rewrite after every append")
    require(maxSegmentBytes >= minSegmentBytes,
      "maxSegmentBytes must be at least minSegmentBytes")
    require(dvFraction >= 0.0 && dvFraction <= 1.0,
      "dvFraction is a fraction of a segment's rows (0 disables)")
    val v = latestVersion()
    if (v < 0) return MaintainResult(triggered = false, 0, None)
    val live = liveSegmentInfos(v)
    val small = live.map(segmentBytes).filter(_ < minSegmentBytes)
    val pressured =
      if (dvFraction <= 0.0) 0
      else live.count(dvPressure(_) >= dvFraction)
    val packSmall = small.size >= smallSegmentLimit
    if (!packSmall && pressured == 0)
      return MaintainResult(triggered = false, small.size, None, 0)
    // size the output count by EVERYTHING this pass will rewrite —
    // the packed smalls plus the pressured segments' physical bytes
    val pressuredBytes =
      if (pressured == 0) 0L
      else live.filter(dvPressure(_) >= dvFraction)
        .map(segmentBytes).sum
    val packBytes = (if (packSmall) small.sum else 0L) + pressuredBytes
    val outs = math.max(1L,
      (packBytes + maxSegmentBytes - 1) / maxSegmentBytes).toInt
    MaintainResult(triggered = true, small.size,
      Some(optimizeWhere(outs, Nil,
        if (packSmall) minSegmentBytes else 0L, clusterBy,
        minDvFraction = if (pressured > 0) dvFraction else 0.0)),
      pressured)
  }

  /** DESCRIBE HISTORY — the operations audit every transactional
    * table owes its operators: one row per committed version with the
    * action profile (segments added/removed, change-data segments,
    * stream txn id, vacuum horizon) and the derived operation label
    * (APPEND / STREAMING APPEND / DELETE-OR-COMPACT / RESTORE-OR-
    * MERGE shapes are distinguishable by their add/remove mix; the
    * log stores actions, not intents, so the label is the honest
    * reconstruction). `limit` bounds the audit to the NEWEST n
    * versions — the operator's question is almost always "what just
    * happened", and reading only those version files makes the answer
    * O(n) whatever the table's age; the default (full history) reads
    * each version file once — O(V) by nature (it IS the history).
    * Snapshot resolution never calls this. */
  def describeHistory(limit: Int = Int.MaxValue): DataFrame = {
    import spark.implicits._
    require(limit >= 1, "limit must be positive")
    val latest = latestVersion()
    require(latest >= 0, s"no log at $root")
    val from = if (limit > latest) 0L else latest - limit + 1
    // versions whose files were log-trimmed (vacuum behind the
    // horizon's checkpoint) drop out of the audit — the history that
    // still exists is reported, never a crash on the part that doesn't
    val rows = (from to latest)
      .filter(v => fs.exists(versionPath(v))).map { v =>
      val Actions(adds, removes, txns, vacs, cdcs, schemas, props, dvs) =
        readActions(v)
      val op =
        if (vacs.nonEmpty) "VACUUM"
        else if (txns.nonEmpty) "STREAMING APPEND"
        else if (dvs.nonEmpty && adds.isEmpty && removes.isEmpty)
          "DELETE (DV)"
        else if (adds.nonEmpty && removes.nonEmpty) "REWRITE"
        else if (removes.nonEmpty) "REMOVE"
        else if (adds.isEmpty && cdcs.isEmpty && schemas.nonEmpty)
          "METADATA (SCHEMA)" // create / ALTER ADD COLUMN
        else if (adds.isEmpty && cdcs.isEmpty && props.nonEmpty)
          "METADATA (PROPERTIES)" // ALTER SET/UNSET TBLPROPERTIES
        else "APPEND"
      (v, commitTimeOf(v), adds.size, removes.size, cdcs.size,
        txns.headOption.map(_.toString).orNull,
        vacs.headOption.map(_.toString).orNull, op)
    }
    rows.toDF("version", "commit_time_ms", "n_added", "n_removed",
      "n_cdc", "txn", "vacuum_horizon", "operation")
  }

  /** DESCRIBE DETAIL — the one-row operational snapshot every
    * transactional table owes its operators (the companion of
    * [[describeHistory]]'s per-version audit): current version, live
    * segment count and physical bytes, how many segments carry
    * skipping stats / Bloom filters (the pruning-readiness numbers a
    * 100 TB operator actually watches — a table whose writes predate
    * the stats config prunes nothing), the vacuum horizon, the newest
    * checkpoint and the last stream txn. `smallBytes` sets the
    * [[maintainLayout]] small-segment rule for the `n_small_segments`
    * readiness column (0 = report none small) — the number an
    * operator watches to know bin-packing is due. O(live segments)
    * filesystem summaries — an ops command, never on the read
    * path. */
  def describeDetail(smallBytes: Long = 0L): DataFrame = {
    import spark.implicits._
    val latest = latestVersion()
    require(latest >= 0, s"no log at $root")
    val st = replayTo(latest, blooms = true) // ops view: honest counts
    val segs = st.live.values.toSeq
    val sizes = segs.map(segmentBytes)
    Seq((root, latest, segs.size.toLong, sizes.sum,
      segs.count(s => s.min.nonEmpty || s.extra.nonEmpty).toLong,
      segs.count(_.bloom.nonEmpty).toLong,
      if (smallBytes <= 0L) 0L else sizes.count(_ < smallBytes).toLong,
      st.vacuumHorizon,
      latestCheckpointAtOrBelow(latest).getOrElse(-1L),
      if (st.maxTxn == Long.MinValue) -1L else st.maxTxn,
      // VECTOR DEBT — the merge-on-read numbers an operator watches
      // to know DV compaction is due (the maintainLayout dvFraction
      // rule fires on the per-segment form of the same counts)
      segs.count(_.dv.nonEmpty).toLong,
      segs.flatMap(_.dv.map(_._2)).sum,
      // the recorded CHECK constraints, in the ops view where an
      // operator audits what every write is being gated on
      checkConstraintsOf(st.propsStr).toSeq.sortBy(_._1)
        .map { case (n, sql) => s"$n: $sql" }.mkString("; ")))
      .toDF("location", "version", "n_segments", "total_bytes",
        "n_with_stats", "n_with_bloom", "n_small_segments",
        "vacuum_horizon", "last_checkpoint", "last_txn",
        "n_dv_segments", "dv_rows", "check_constraints")
  }

  /** DESCRIBE SEGMENTS — one row per LIVE segment with its recorded
    * log metadata (row count, deletion-vector rows, primary bounds,
    * extra-stats columns, Bloom presence) plus its physical bytes:
    * the per-file ops view behind [[describeDetail]]'s totals — where
    * an operator looks to see WHICH segments carry vector debt or
    * missing stats.
    *
    * Up to `distributedOver` live segments this is the driver-side
    * walk (interactive-fast at ops scale). PAST it — and whenever a
    * sharded checkpoint covers the table — the view is served as a
    * DISTRIBUTED SCAN of the checkpoint part files: executors parse
    * the add lines (the same companion grammar as the driver) and
    * compute the per-segment filesystem summaries, the driver only
    * replays the ≤ checkpointInterval suffix commits for the handful
    * of segments they touched, and the two halves union. At 10⁶ live
    * segments that turns an O(live) single-threaded driver walk into
    * one parallel job — the ops view stays pollable however wide the
    * table grows. */
  def describeSegments(distributedOver: Long = 65536L): DataFrame = {
    import spark.implicits._
    val latest = latestVersion()
    require(latest >= 0, s"no log at $root")
    val served = latestCheckpointAtOrBelow(latest).flatMap { cp =>
      try {
        val body = readFileStr(checkpointPath(cp))
        val n = "\"ckptAdds\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(body)
          .map(_.group(1).toLong)
        (n, checkpointPartPaths(cp)) match {
          case (Some(adds), Some(parts)) if adds > distributedOver =>
            val blooms: Seq[Path] =
              LogStore.manifestFileList(body, "ckptBloomFiles") match {
                case Some(names) => names.toSeq.filter(_ != "-")
                  .map(nm => new Path(logDir, nm))
                case None =>
                  val prefix = f"$cp%08d.checkpoint.bloom-"
                  fs.listStatus(new Path(logDir)).map(_.getPath)
                    .filter(_.getName.startsWith(prefix)).toSeq
              }
            Some(describeSegmentsDistributed(cp, latest, parts, blooms))
          case _ => None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    served.getOrElse {
      replayTo(latest, blooms = true).live.values.toSeq.map { s =>
        (s.name, segmentBytes(s), s.rows.getOrElse(-1L),
          s.dv.map(_._2).getOrElse(0L), s.min.orNull, s.max.orNull,
          s.extra.keys.toSeq.sorted.mkString(","), s.bloom.nonEmpty)
      }.toDF("segment", "bytes", "rows", "dv_rows", "min", "max",
        "extra_stats_columns", "has_bloom")
    }
  }

  /** The distributed half of [[describeSegments]]: checkpoint part
    * files parsed and measured on EXECUTORS, the post-checkpoint
    * suffix replayed driver-side for only the segments it touched.
    * Parity with the driver walk is spec-pinned. */
  private def describeSegmentsDistributed(cp: Long, latest: Long,
      partPaths: Seq[Path], bloomPaths: Seq[Path]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, coalesce,
      col => fcol, lit => flit}
    val rootStr = root
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // the suffix (≤ interval commits): which segments changed since
    // the checkpoint, and their CURRENT records
    val suffix = (cp + 1 to latest).map(readActions)
    val touched: Set[String] = suffix.iterator.flatMap(a =>
      a.adds.iterator.map(_.name) ++ a.removes.iterator ++
        a.dvs.iterator.map(_._1)).toSet
    // executors parse the part lines with the driver's own grammar
    val parsed = spark.read.textFile(partPaths.map(_.toString): _*)
      .flatMap(LogStore.parseAddLineForOps _)
      .toDF("segment", "rows", "dv_rows", "min", "max",
        "extra_stats_columns")
    val hasBloom =
      (if (bloomPaths.isEmpty) spark.emptyDataset[String]
       else spark.read.textFile(bloomPaths.map(_.toString): _*)
         .flatMap(LogStore.parseBloomLineName _))
        .toDF("segment").withColumn("has_bloom", flit(true))
    val joined = parsed.join(hasBloom, Seq("segment"), "left")
      .withColumn("has_bloom",
        coalesce(fcol("has_bloom"), flit(false)))
    // bytes measured WHERE THE ROWS ARE: one filesystem summary per
    // segment, fanned across executor threads
    val untouchedDist = joined
      .join(broadcast(touched.toSeq.toDF("segment")),
        Seq("segment"), "left_anti")
      .as[(String, Long, Long, String, String, String, Boolean)]
      .mapPartitions { it =>
        val efs = new Path(rootStr).getFileSystem(serConf.value)
        it.map { case (name, rows, dvRows, mn, mx, xs, hb) =>
          (name, LogStore.segmentBytesOf(efs, rootStr, name), rows,
            dvRows, mn, mx, xs, hb)
        }
      }
      .toDF("segment", "bytes", "rows", "dv_rows", "min", "max",
        "extra_stats_columns", "has_bloom")
    // the touched handful: seed from the distributed parse, replay
    // the suffix over just those names, measure driver-side
    val seeds = joined
      .join(broadcast(touched.toSeq.toDF("segment")), Seq("segment"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.getString(3)), Option(r.getString(4)),
        r.getString(5), r.getBoolean(6))))
    val state = scala.collection.mutable.LinkedHashMap(seeds: _*)
    suffix.foreach { a =>
      a.adds.foreach(s => state(s.name) =
        ((s.rows.getOrElse(-1L), s.dv.map(_._2).getOrElse(0L), s.min,
          s.max, s.extra.keys.toSeq.sorted.mkString(","),
          s.bloom.nonEmpty)))
      a.removes.foreach(state -= _)
      a.dvs.foreach { case (seg, f, n) =>
        state.get(seg).foreach { t =>
          state(seg) = t.copy(_2 = if (f.isEmpty) 0L else n)
        }
      }
    }
    val localRows = state.toSeq.map { case (name, t) =>
      (name, LogStore.segmentBytesOf(fs, rootStr, name), t._1, t._2,
        t._3.orNull, t._4.orNull, t._5, t._6)
    }.toDF("segment", "bytes", "rows", "dv_rows", "min", "max",
      "extra_stats_columns", "has_bloom")
    untouchedDist.unionByName(localRows)
  }

  /** RESTORE the table to the content of an earlier `version` — the
    * Delta RESTORE semantics: rollback is a NEW forward commit whose
    * actions re-add the segments live at `version` and remove the
    * ones live now, so nothing is rewritten (segments are immutable
    * and still on disk), history is PRESERVED (the pre-restore state
    * stays time-travelable at its own version — an audited undo, not
    * an erasure), and concurrent readers keep snapshot isolation.
    * Restoring behind the vacuum horizon refuses loudly via the same
    * guard as time travel: those segments may be physically gone.
    * Returns the new version.
    *
    * RESTORE is a DATA change and must say so in the change feed: the
    * commit carries a true cdc segment — every row of a departing
    * segment as `delete`, every row of a returning segment as
    * `insert` (segments are immutable, so the segment-set diff IS the
    * row-set diff). Without it, `readChanges` would classify the
    * restore as a dataChange=false rewrite (compaction's shape) and
    * every incremental consumer would silently diverge from the
    * snapshot it claims to mirror — the one lie a change feed must
    * never tell. */
  def restore(version: Long): Long = {
    import org.apache.spark.sql.functions.{lit => flit}
    val latest = latestVersion()
    require(version >= 0 && version <= latest,
      s"cannot restore to $version (latest is $latest)")
    // the restored content must satisfy the constraints recorded NOW
    // (RESTORE re-adds old segments outside every write gate; the log
    // never records a CHECK its live data violates) — DROP the
    // constraint first to restore past it
    locally {
      import org.apache.spark.sql.functions.{expr => fexpr}
      checkConstraints().toSeq.sortBy(_._1).foreach { case (n, sql) =>
        val bad = read(version).where(checkViolation(fexpr(sql)))
          .limit(1).collect()
        if (bad.nonEmpty) throw new IllegalArgumentException(
          s"RESTORE to $version violates CHECK constraint '$n' " +
            s"($sql): ${bad.mkString} — DROP the constraint first")
      }
    }
    // liveSegmentInfos(version) applies the vacuum-horizon refusal;
    // blooms = true because returning segments are RE-SERIALIZED as
    // add actions — the restored filters must skip identically
    val target = liveSegmentInfos(version, blooms = true)
    val cur = liveSegmentInfos(latest, blooms = true)
    val curNames = cur.map(_.name).toSet
    val targetNames = target.map(_.name).toSet
    val curByName = cur.map(s => s.name -> s).toMap
    val adds = target.filterNot(s => curNames.contains(s.name))
    val removes = cur.map(_.name).filterNot(targetNames.contains)
    // deletion-vector drift: a segment live at BOTH versions whose dv
    // state differs changes rows without changing names — the restore
    // must re-point (or clear) the vector too. Re-added segments
    // carry their dv inside the add action (addJson), so only the
    // shared ones need explicit dv actions.
    val dvFixes = target.filter(s => curByName.get(s.name)
        .exists(_.dv != s.dv))
      .map(s => (s.name, s.dv.map(_._1).getOrElse(""),
        s.dv.map(_._2).getOrElse(0L)))
    val cdc =
      if (adds.isEmpty && removes.isEmpty && dvFixes.isEmpty)
        Nil // no-op restore
      else if (dvFixes.isEmpty &&
          adds.forall(_.dv.isEmpty) &&
          removes.forall(n => curByName(n).dv.isEmpty)) {
        // the fast path: pure segment-set diff (no vectors anywhere
        // in it) — segments are immutable, so the set diff IS the
        // row diff
        val departing = removes.map(s =>
          rawToLogical(spark.read.parquet(s"$root/$s"))
            .withColumn("_change_type", flit("delete")))
        val returning = adds.map(s =>
          rawToLogical(spark.read.parquet(s"$root/${s.name}"))
            .withColumn("_change_type", flit("insert")))
        // allowMissingColumns: the rollback may span a schema
        // evolution — both shapes belong in one feed segment
        val all = (departing ++ returning)
          .reduce(_.unionByName(_, allowMissingColumns = true))
        Seq(writeChangeSegment(all))
      } else {
        // vectors involved: the row diff is the dv-aware snapshot
        // diff, on the latest recorded shape so a rollback across a
        // schema evolution still aligns
        val before = read(latest)
        Seq(writeChangeSegment(rowDiff(before, read(version),
          recordedSchema(latest).getOrElse(before.schema))))
      }
    commit(latest + 1, adds, removes, cdc = cdc, dvs = dvFixes)
  }

  final case class MergeResult(version: Long, rewritten: Int, live: Int)

  /** Copy-on-write MERGE — the Delta-paper upsert: rows of `updates`
    * whose `keyCol` matches a live row REPLACE it; the rest are
    * inserted. One atomic commit, so readers see either the whole
    * merge or none of it, and the pre-merge snapshot stays
    * time-travelable at its version.
    *
    * The copy-on-write is SEGMENT-pruned: when `keyCol` is the
    * configured [statsCol], only live segments whose min/max range
    * overlaps the updates' key range are rewritten — the others carry
    * over untouched in the same commit-free sense Delta leaves
    * unmatched files alone. That pruning is what makes a 10-row upsert
    * into a 100 TB table rewrite one segment, not the table; without a
    * usable stats column every segment must be assumed to match
    * (documented full rewrite). Segments with no recorded stats are
    * always rewritten (the safe default).
    *
    * `updates` must be key-unique — two updates claiming the same key
    * is the ambiguity the SQL MERGE standard rejects, and silently
    * picking one would hide a pipeline bug upstream.
    *
    * Concurrency: merge is a read-modify-write — the commit lands at
    * readVersion+1 or throws [[ConcurrentCommitException]], so a
    * racing writer can never have its rows silently dropped by a merge
    * that rewrote segments it never read. */
  def merge(updates: DataFrame, keyCol: String): MergeResult =
    mergeKeyed(updates, Seq(keyCol))

  /** [[merge]] over a COMPOSITE business key (the repo's own
    * latest-record-wins key is (shop, billing_date)): match, dup
    * detection and the change feed all key on the full column tuple —
    * no concatenation workaround, no delimiter-collision hazard.
    * Stats pruning keys on the LEADING stats column: when [statsCol]
    * is one of `keyCols`, only segments overlapping the updates' range
    * in THAT column are rewritten — the clustered-table economics
    * survive the composite key. */
  def mergeKeyed(updates: DataFrame, keyCols: Seq[String]): MergeResult =
    upsertKeyed(updates, None, keyCols, txn = None)

  /** Apply a NET keyed change set — `upserts` replace-or-insert by
    * `keyCol`, `deleteKeys` remove — in ONE fenced commit: the
    * consumer side of keyed CDC mirroring
    * ([[graft.streaming.StreamingOps.mirrorLogToLog]]), where a batch
    * of absorbed source commits must land atomically (readers see the
    * whole batch or none) and exactly once (`batchId` rides the same
    * txn fence as [[appendStream]]; a replay returns -1 and changes
    * nothing). Copy-on-write is stats-pruned over the UNION of upsert
    * and delete key ranges when `keyCol` is the stats column — the
    * same one-segment economics as [[merge]]/[[deleteRange]]. The
    * commit writes its own truthful cdc segment (pre/post images,
    * inserts, deletes), so mirrors can themselves be mirrored.
    * `upserts` must be key-unique and disjoint from `deleteKeys` — a
    * NET change set cannot say both. */
  def applyChanges(upserts: DataFrame, deleteKeys: DataFrame,
      keyCol: String, batchId: Long): Long =
    applyChangesKeyed(upserts, deleteKeys, Seq(keyCol), batchId)

  /** [[applyChanges]] over a COMPOSITE business key: uniqueness,
    * disjointness, match and the change feed all key on the full
    * column tuple; stats pruning keys on the LEADING stats column
    * (when [statsCol] is one of `keyCols`) — the same clustered-table
    * economics as [[mergeKeyed]]. `deleteKeys` must carry every key
    * column. An all-empty change set (no upserts, no deletes)
    * advances the fence with a txn-only commit — no empty segment.
    *
    * NULL keys: the uniqueness and disjointness gates GROUP by the
    * key, so NULL keys compare equal there — a NULL key in both
    * `upserts` and `deleteKeys` throws "not a NET set", and two
    * NULL-key upserts throw "not unique". The match itself is key
    * equality, where NULL equals nothing: a NULL-key upsert replaces
    * no stored row (it lands as an insert) and a NULL delete key
    * removes none. */
  def applyChangesKeyed(upserts: DataFrame, deleteKeys: DataFrame,
      keyCols: Seq[String], batchId: Long): Long =
    upsertKeyed(upserts, Some(deleteKeys), keyCols, Some(batchId)).version

  /** The ONE keyed copy-on-write upsert behind [[mergeKeyed]] (no
    * deletes, no `txn`) and [[applyChangesKeyed]] (`txn` = its batch
    * id). Only the commit policy differs. A merge commits through
    * [[commitRevalidated]] with its key-range read set. A fenced change
    * set is a no-op returning version -1 when `txn` is at or behind
    * [[lastTxn]], advances the fence alone when it carries no row, and
    * otherwise commits strictly at its read version + 1.
    *
    * Everything else is shared: the change set is materialized once;
    * one probe job over the tagged key union answers uniqueness,
    * upsert/delete disjointness, emptiness and the stats-prune bounds;
    * the touched segments are read at the schema recorded at the read
    * version, so an update set that omits a column the table gained
    * later null-fills it; one tagged inner join yields the pre-images
    * and the deletes; the rewrite and the cdc segment are written in
    * overlap. */
  private def upsertKeyed(upserts: DataFrame,
      deleteKeys: Option[DataFrame], keyCols: Seq[String],
      txn: Option[Long]): MergeResult = {
    import org.apache.spark.sql.functions.{col => fcol, count => fcount,
      lit => flit, max => fmax, min => fmin, struct, sum => fsum,
      when => fwhen}
    require(keyCols.nonEmpty, "a keyed upsert needs at least one key column")
    if (txn.exists(_ <= lastTxn())) return MergeResult(-1L, 0, 0)
    val keys = keyCols.map(fcol)
    // Materialize the change set ONCE. It is O(changed rows) by the
    // merge and CDC contracts, and everything below — the refusals,
    // the prune bounds, the survivors anti-join, the rewrite and the
    // change-feed branches — would otherwise re-execute the incoming
    // plans from scratch. In the streaming-sink path (`upsertAggToLog`)
    // `upserts` is a STATEFUL AGGREGATION whose every re-evaluation
    // replays the state store. Defaults are padded first: a narrow
    // upsert row must land with a column's DEFAULT, not the null the
    // union with a touched segment's rows would give it.
    val ups = padDefaults(upserts).localCheckpoint(true)
    val dels = deleteKeys.map(
      _.select(keys: _*).distinct().localCheckpoint(true))
    // every changed key, tagged with its side: _u = 1 upsert, 0 delete
    val tagged = dels.foldLeft(ups.select(keys :+ flit(1L).as("_u"): _*))(
      (u, d) => u.unionByName(d.withColumn("_u", flit(0L))))
    // ONE aggregation job over the tagged union answers every gate —
    // key uniqueness (with an example key), upsert/delete
    // disjointness, all-empty, and the stats-prune bounds: they are
    // per-key facts of the same change set (guide §1.2)
    val pcOpt = statsCol.filter(keyCols.contains)
    val probeCols = Seq(
      fmax(fwhen(fcol("_nu") > 1,
        struct(fcol("_nu").as("n") +: keys: _*))).as("dup"),
      fmax(fwhen(fcol("_nu") > 0 && fcol("_n") > fcol("_nu"), 1)
        .otherwise(0)).as("overlap"),
      fsum(fcol("_n")).as("rows")) ++
      pcOpt.toSeq.flatMap(pc => Seq(fmin(fcol(pc)).cast("string"),
        fmax(fcol(pc)).cast("string")))
    val probe = tagged.groupBy(keys: _*)
      .agg(fsum(fcol("_u")).as("_nu"), fcount(flit(1)).as("_n"))
      .agg(probeCols.head, probeCols.tail: _*).head()
    if (!probe.isNullAt(0)) {
      val d = probe.getStruct(0)
      throw new IllegalArgumentException(
        s"updates are not unique on (${keyCols.mkString(", ")}) (e.g. " +
          s"key ${d.toSeq.drop(1).mkString("(", ", ", ")")}" +
          s" appears ${d.getLong(0)} times) — ambiguous upsert")
    }
    if (!probe.isNullAt(1) && probe.getInt(1) == 1)
      throw new IllegalArgumentException(
        "a key appears in both upserts and deletes — not a NET set")
    if (probe.isNullAt(2) && txn.nonEmpty)
      return MergeResult(commitFence(txn.get), 0, 0)
    val v = latestVersion()
    // the same write-side gate as append/appendStream: without it a
    // type-mutated shared column is silently WIDENED by the
    // survivors-union into the rewritten segment while untouched
    // segments keep the old type — coexisting-types corruption
    val (schemaAct, propsAct) = enforceSchema(ups.schema, v)
    // a fenced change set may create its table; a merge needs one
    val live = if (v < 0 && txn.nonEmpty) Nil else liveSegmentInfos(v)
    val keyRange = pcOpt.filterNot(_ => probe.isNullAt(3))
      .map(pc => (pc, probe.getString(3), probe.getString(4)))
    val touched =
      if (pcOpt.isEmpty) live
      else keyRange.toSeq.flatMap { case (_, lo, hi) =>
        live.filter(_.mayOverlap(lo, hi))
      }
    val touchedData =
      if (touched.isEmpty) ups.limit(0) else scanSegments(touched, v)
    val survivors = touchedData
      .join(tagged.select(keys: _*), keyCols, "left_anti")
    val rewritten = survivors.unionByName(ups, allowMissingColumns = true)
    // ONE tagged join yields every touched row the change set names,
    // with its change kind: keys are unique per side and the two sides
    // are disjoint (both just enforced), so each row matches at most
    // once. The result is O(changed rows) — materialize it so the
    // matched keys for the postimage/insert split don't re-scan the
    // segments.
    val oldChanges = touchedData.join(tagged, keyCols, "inner")
      .withColumn("_change_type", fwhen(fcol("_u") === 1L,
        flit("update_preimage")).otherwise(flit("delete")))
      .drop("_u")
      .localCheckpoint(true)
    val matched = oldChanges
      .where(fcol("_change_type") === "update_preimage")
      .select(keys: _*)
    val changes = oldChanges
      .unionByName(ups.join(matched, keyCols, "left_semi")
        .withColumn("_change_type", flit("update_postimage")),
        allowMissingColumns = true)
      .unionByName(ups.join(matched, keyCols, "left_anti")
        .withColumn("_change_type", flit("insert")),
        allowMissingColumns = true)
    // the rewrite and the cdc segment read only checkpointed change
    // sets + the immutable touched segments — overlap them (§2.6)
    val (rewSeg, chSeg) = par2(
      writeSegment(rewritten, schemaAct), writeChangeSegment(changes))
    val removes = touched.map(_.name)
    val version = txn match {
      case Some(_) => commit(v + 1, Seq(rewSeg), removes, txn = txn,
        cdc = Seq(chSeg), schema = schemaAct, props = propsAct)
      // unpruned merges may match ANY concurrently-added row; key-
      // range-pruned ones conflict only with overlapping adds
      case None => commitRevalidated(v, Seq(rewSeg), removes,
        ReadSet(removes.toSet, keyRange,
          matchesAnyNewRow = keyRange.isEmpty && touched.nonEmpty),
        cdc = Seq(chSeg), schema = schemaAct, props = propsAct)
    }
    MergeResult(version, touched.size, live.size)
  }

  final case class VacuumResult(version: Long, deleted: Seq[String],
      trimmedLogFiles: Int = 0)

  /** Physical cleanup behind a retention horizon. After
    * `vacuum(retainLast = k)`, the newest `k` committed versions
    * remain fully time-travelable; every data segment NOT live in any
    * of those snapshots — including crash-orphaned segments that were
    * written but never published by any commit — is physically
    * deleted, and the new horizon is published as a `vacuum` action
    * so later readers refuse vacuumed versions LOUDLY instead of
    * returning a silently-incomplete snapshot.
    *
    * `orphanMinAgeMs` guards one race physical deletion has: a
    * concurrent writer that has written its segment but not yet
    * committed looks exactly like a crash orphan. Segments younger
    * than the guard are left alone — the paper's time-based
    * retention, so the DEFAULT is a conservative hour (production
    * deployments size it to their longest write; tests opt into 0).
    *
    * Ordering is the other half of that race's fix: the horizon is
    * COMMITTED before anything is deleted. A writer that raced its
    * commit into vacuum's slot surfaces as ConcurrentCommitException
    * while every byte is still on disk — never the reverse (segments
    * destroyed first, conflict discovered after). The keep set is
    * computed AFTER that commit from a re-read of the log, so any
    * commit that landed in between is honored; commits landing during
    * the delete pass itself are covered by the age guard. */
  def vacuum(retainLast: Int,
      orphanMinAgeMs: Long = 3600L * 1000): VacuumResult = {
    require(retainLast >= 1, "must retain at least the latest version")
    val latest = latestVersion()
    require(latest >= 0, s"no log at $root")
    // Every physical deletion below derives from replays that SEED
    // from checkpoint files, and checkpoint writes are best-effort /
    // non-atomic — a crash-truncated checkpoint replays to a subset
    // of the live set and the keep-set computed from it would delete
    // LIVE segments. Validate (and heal) the checkpoint this replay
    // seeds from before trusting it with a delete decision.
    latestCheckpointAtOrBelow(latest).foreach(repairCheckpointIfNeeded)
    val prior = replayTo(latest)
    val horizon =
      math.max(prior.vacuumHorizon, math.max(0L, latest - retainLast + 1))
    // publish the horizon FIRST: a lost commit race aborts the vacuum
    // with zero deletions instead of deleting a racer's segments
    val v = commit(latest + 1, Nil, Nil, vacuumHorizon = Some(horizon))
    // keep = every segment live in SOME retained snapshot: the live
    // set at the horizon plus everything added after it — including
    // commits that landed between our commit and this listing.
    // Change-data segments are kept while their VERSION is retained —
    // readChanges refuses ranges behind the horizon, so their
    // payloads can go.
    val top = latestVersion()
    val keep = scala.collection.mutable.HashSet.empty[String]
    val keepDv = scala.collection.mutable.HashSet.empty[String]
    // the horizon replay may seed from an OLDER checkpoint than the
    // one validated above — same heal-before-trust rule
    latestCheckpointAtOrBelow(horizon).foreach(repairCheckpointIfNeeded)
    val horizonState = replayTo(horizon)
    keep ++= horizonState.live.keys
    keepDv ++= horizonState.live.values.flatMap(_.dv.map(_._1))
    val keepCdc = scala.collection.mutable.HashSet.empty[String]
    (horizon to top).foreach { ver =>
      val a = readActions(ver)
      if (ver > horizon) {
        keep ++= a.adds.map(_.name)
        // dv dirs referenced by retained versions stay — whether
        // attached by a dv action or carried on a re-add (restore)
        keepDv ++= a.adds.flatMap(_.dv.map(_._1))
        keepDv ++= a.dvs.map(_._2).filter(_.nonEmpty)
      }
      keepCdc ++= a.cdcs
    }
    val cutoff = System.currentTimeMillis() - orphanMinAgeMs
    val (doomed, sparedByAge) = {
      val dead = fs.listStatus(new Path(root)).filter { st =>
        val n = st.getPath.getName
        st.isDirectory &&
        ((n.startsWith("seg-") && !keep.contains(n)) ||
          (n.startsWith("cdc-") && !keepCdc.contains(n)) ||
          (n.startsWith("dv-") && !keepDv.contains(n)) ||
          n.startsWith("_opt-") || // a crashed optimize's staging dir
          n.startsWith("_stage-")) // a crashed DSv2 write's staging dir
      }
      (dead.filter(_.getModificationTime <= cutoff)
        .map(_.getPath.getName).toSeq,
        dead.count(_.getModificationTime > cutoff))
    }
    // operators sizing space-reclaim automation must be able to SEE
    // why a vacuum deleted nothing: the age guard is a safety default
    // (it shields in-flight writers), not a silent no-op
    if (sparedByAge > 0)
      System.err.println(s"[logstore] vacuum at $root spared " +
        s"$sparedByAge dead segment(s) younger than the " +
        s"orphanMinAgeMs=$orphanMinAgeMs guard; re-run after the guard " +
        "elapses (or lower it) to reclaim them")
    doomed.foreach(s => fs.delete(new Path(s"$root/$s"), true))
    // LOG TRIM — the bounded-_log-directory half of retention
    // (Delta's log cleanup): version files STRICTLY BEHIND the newest
    // checkpoint at-or-below the horizon can never be read again —
    // every readable snapshot (≥ horizon) replays from a checkpoint
    // ≥ that one, and reads behind the horizon already refuse loudly
    // — so they are physically deleted, along with superseded
    // checkpoint files. Without this a streaming writer's table
    // carries O(table-age) log files forever; with it the directory
    // is O(retained versions + interval). One listing, version-parsed
    // — never per-file existence probes.
    val trimmed = latestCheckpointAtOrBelow(horizon) match {
      case Some(cp) if cp > 0 && !checkpointReplayable(cp) =>
        // a truncated/corrupt checkpoint (crashed best-effort write)
        // must never become the only copy of the history it claims to
        // snapshot — skip the trim, keep the replayable prefix, and
        // say so: the next successful checkpoint unblocks trimming
        System.err.println(s"[logstore] vacuum at $root skipped the " +
          s"log trim: checkpoint $cp does not faithfully replay the " +
          "version files behind it (likely a crashed checkpoint " +
          "write); re-run after the next checkpoint")
        0
      case Some(cp) if cp > 0 =>
        val all = fs.listStatus(new Path(logDir))
        // incremental checkpoints CARRY part/bloom files from older
        // checkpoints by name — every file a SURVIVING manifest
        // (version ≥ cp) still references is protected until no
        // manifest references it, whatever version its name carries
        val referenced: Set[String] = all.iterator
          .map(_.getPath.getName)
          .filter(n => n.endsWith(".checkpoint") &&
            n.stripSuffix(".checkpoint").toLongOption.exists(_ >= cp))
          .flatMap { n =>
            try {
              val body = readFileStr(new Path(logDir, n))
              (LogStore.manifestFileList(body, "ckptPartFiles")
                .map(_.toSeq).getOrElse(Nil) ++
                LogStore.manifestFileList(body, "ckptBloomFiles")
                  .map(_.toSeq).getOrElse(Nil)).filter(_ != "-")
            } catch {
              case scala.util.control.NonFatal(_) => Nil
            }
          }.toSet
        val dead = all
          .filter { st =>
            val n = st.getPath.getName
            // NNNNNNNN.json | NNNNNNNN.checkpoint[.part-i|.bloom-i] —
            // a sharded checkpoint's parts and sidecars share its
            // version and are superseded together (unless carried
            // forward by a surviving manifest, above)
            val vOf =
              if (n.endsWith(".json")) n.stripSuffix(".json").toLongOption
              else {
                val i = n.indexOf(".checkpoint")
                if (i > 0 && (n.length == i + 11 ||
                    n.charAt(i + 11) == '.'))
                  n.take(i).toLongOption
                else None
              }
            // `_tmp-*` are checkpoint-write staging files: normally
            // sub-second-lived (renamed into place), so any survivor
            // is a crash orphan — reclaimed behind the same age guard
            // that shields in-flight writers
            (vOf.exists(_ < cp) && !referenced.contains(n)) ||
              (n.startsWith("_tmp-") &&
                st.getModificationTime <= cutoff)
          }
          .map(_.getPath)
        dead.foreach(fs.delete(_, false))
        dead.length
      case _ => 0
    }
    VacuumResult(v, doomed, trimmed)
  }

  /** Publish a copy-on-write REPLACE as one commit: already-written
    * segments (`adds`, each with the messages of its files — staged by
    * a distributed write through [[segmentWriter]], e.g. the DSv2
    * row-level-operation path behind SQL UPDATE / MERGE INTO, and
    * moved in by [[stageToSegments]]) replace exactly `removes`, the
    * live segments the writing query READ at `readVersion`. Their add
    * actions come from the messages ([[segmentsMeta]]: no job).
    * Read-modify-write concurrency: the commit lands at readVersion+1
    * or throws
    * [[ConcurrentCommitException]] — a racing writer can never have
    * its rows silently dropped by a rewrite that never read them.
    *
    * The change feed stays truthful without the writer knowing which
    * rows changed: the commit's cdc segment is the MINIMAL MULTISET
    * DIFF of old vs new content — rows carried over unchanged cancel
    * out; a changed row appears as delete(old) + insert(new) in the
    * same commit (keyed consumers net that to the upsert:
    * [[graft.streaming.StreamingOps.netChangesKeyed]] ranks the
    * insert above the delete within one version); a removed row is a
    * lone delete, a new row a lone insert. Cost: one exceptAll each
    * way over the REPLACED bytes only — the same ∝-selected economics
    * as the rewrite itself. */
  def publishReplace(adds: Seq[(String, Seq[LogWriteMessage])],
      removes: Seq[String],
      writeSchema: org.apache.spark.sql.types.StructType,
      readVersion: Long,
      range: Option[(String, String, String)] = None): Long = {
    require(adds.nonEmpty || removes.nonEmpty, "nothing to replace")
    // INSERT OVERWRITE and the SQL UPDATE/MERGE/DELETE rewrites all
    // land here with executor-written files — the staged gate is the
    // only thing standing between a violating UPDATE and the commit
    if (adds.nonEmpty) requireStagedDefaults(writeSchema)
    val names = adds.map(_._1)
    validateStagedChecks(names, writeSchema)
    val (schemaAct, propsAct) = enforceSchema(writeSchema, readVersion)
    val replMapping = writeMapping(None)
    val addMeta = segmentsMeta(adds, writeSchema)
    // the diff is aligned on the post-write table shape: old segments
    // read null in evolved columns (the usual evolution semantics)
    val target = schemaAct.map(decodeSchema)
      .orElse(recordedSchema(math.min(readVersion, latestVersion())))
      .getOrElse(writeSchema)
    def empty: DataFrame = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), target)
    // the OLD side reads DV-AWARE (a replaced segment's already-
    // deleted rows must not reappear as feed deletes); the new
    // segments are fresh directories with no vectors
    val removedInfos = {
      val v = latestVersion()
      if (v < 0) Nil
      else {
        val byName = liveSegmentInfos(math.min(readVersion, v))
          .map(s => s.name -> s).toMap
        removes.flatMap(byName.get)
      }
    }
    val before =
      if (removedInfos.isEmpty) empty
      else scanSegments(removedInfos, math.min(readVersion, latestVersion()))
    val after =
      if (adds.isEmpty) empty
      // rawToLogical: the staged files hold PHYSICAL names under
      // column mapping — the feed diff compares logical shapes. The
      // staged files were all written with the physical projection of
      // writeSchema, so read with it explicitly (no inference job)
      else rawToLogical(spark.read
        .schema(org.apache.spark.sql.types.StructType(
          writeSchema.fields.map(f =>
            f.copy(name = replMapping.getOrElse(f.name, f.name)))))
        .parquet(names.map(d => s"$root/$d"): _*))
    // `range` is the writing query's selection bound on a stats
    // column (the row-level scan's pushed-predicate range): a
    // concurrent ADD outside it cannot hold a row this rewrite should
    // have seen, so disjoint SQL writers re-validate past each other.
    // Without one, conservative re-validation: any concurrent ADD may
    // have matched (maintenance/fence winners still pass).
    commitRevalidated(readVersion, addMeta, removes,
      ReadSet(removes.toSet, range,
        matchesAnyNewRow = range.isEmpty),
      cdc = Seq(writeChangeSegment(rowDiff(before, after, target))),
      schema = schemaAct, props = propsAct)
  }

  /** The change feed of replacing `before` with `after` as their
    * MINIMAL MULTISET DIFF: rows only in `before` as `delete`, rows
    * only in `after` as `insert`; rows carried over unchanged cancel.
    * Both sides are projected onto `shape` first (a column a side
    * lacks reads null), so a diff across a schema evolution aligns. */
  private def rowDiff(before: DataFrame, after: DataFrame,
      shape: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col => fcol, lit => flit}
    def project(df: DataFrame): DataFrame =
      df.select(shape.fields.toSeq.map { f =>
        (if (df.columns.contains(f.name)) fcol(f.name)
         else flit(null).cast(f.dataType)).as(f.name)
      }: _*)
    val (b, a) = (project(before), project(after))
    b.exceptAll(a).withColumn("_change_type", flit("delete"))
      .unionByName(a.exceptAll(b).withColumn("_change_type", flit("insert")))
  }

  /** Publish ALREADY-WRITTEN segments as ONE append commit — the
    * driver-side commit half of a distributed write path (the DSv2
    * `graft-log` sink): executors stage parquet files through
    * [[segmentWriter]], [[stageToSegments]] moves the message-named
    * ones into fresh `seg-*` directories, and the driver calls this
    * once with each segment and its files' messages. The add actions
    * come from what the tasks recorded ([[segmentsMeta]]: rows, stats
    * and Bloom filters with no job), schema enforcement runs against
    * the recorded metadata action, and the commit lands with
    * blind-append retry semantics (content does not depend on the
    * snapshot, so rebase-and-retry is safe). With `txn` this is the
    * exactly-once streaming-epoch form: a replayed epoch (txn ≤ the
    * recorded fence) publishes NOTHING and returns -1 — the caller
    * owns deleting its staged directories. Until this returns, the
    * staged segments are invisible to every reader; if the caller dies
    * first they are crash orphans [[vacuum]] reclaims. */
  def publishSegments(segments: Seq[(String, Seq[LogWriteMessage])],
      writeSchema: org.apache.spark.sql.types.StructType,
      txn: Option[Long] = None): Long = {
    require(segments.nonEmpty, "nothing to publish")
    requireStagedDefaults(writeSchema)
    validateStagedChecks(segments.map(_._1), writeSchema)
    val adds = segmentsMeta(segments, writeSchema)
    retryCommits() {
      // a fenced replay: the batch already landed
      if (txn.exists(_ <= lastTxn())) -1L
      else {
        val base = latestVersion()
        val (schemaAct, propsAct) = enforceSchema(writeSchema, base)
        // the staged files were already written (physical names
        // resolved against the RECORDED mapping); a NEW column that
        // enforceSchema had to re-map to a fresh col-uuid (its name
        // collides with a dropped/renamed column's storage name) would
        // leave the files holding the claimed name — resurrected
        // bytes. Refuse with the workaround rather than publish a lie.
        schemaAct.map(decodeSchema).foreach(_.fields.foreach { f =>
          val written = writeSchema.fields.find(_.name == f.name)
          written.foreach { w =>
            if (LogStore.physicalName(f) != LogStore.physicalName(w) &&
                !writeMapping(None).contains(f.name))
              throw new IllegalArgumentException(
                s"column '${f.name}' collides with a dropped/renamed " +
                  "column's storage name — run ALTER TABLE ADD COLUMN " +
                  "first (assigning its physical name), then write")
          }
        })
        commit(base + 1, adds, Nil, txn = txn, schema = schemaAct,
          props = propsAct)
      }
    }
  }
}

object LogStore {
  /** Attempts a re-deriving commit path makes before a lost commit
    * race surfaces as [[LogStore!.ConcurrentCommitException]]. */
  private val CommitAttempts = 5

  /** Log rows per bucket of a multi-part checkpoint (bounded above by
    * the table's `checkpointShardRows`). */
  private val CheckpointBucketRows = 1024

  /** A stats bound spelled as `cast(min(c) AS STRING)` spells it in
    * the session time zone `tz`: `v` is the Catalyst value of a
    * column of type `dt`, evaluated through Spark's own cast. */
  private def spellBound(v: Any, dt: org.apache.spark.sql.types.DataType,
      tz: String): String = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    Cast(Literal(v, dt), org.apache.spark.sql.types.StringType, Some(tz))
      .eval().toString
  }

  /** Hex serialization of a Bloom bit array — 4 bits per hex digit,
    * bit (4j+k) contributing 2^k to digit j (the grammar every probe
    * and sidecar parser reads back). */
  private[catalog] def bloomHexOf(bits: Array[Boolean]): String =
    bits.grouped(4).map { nib =>
      val v = (if (nib(0)) 1 else 0) | (if (nib(1)) 2 else 0) |
        (if (nib(2)) 4 else 0) | (if (nib(3)) 8 else 0)
      Integer.toHexString(v)
    }.mkString

  /** The property keys the engine itself owns in the `props` action;
    * [[configured]] maps them to constructor fields and everything
    * else round-trips as [[LogStore!.extraProps]]. */
  private[catalog] val EngineProps: Set[String] =
    Set("statsCol", "statsCols", "bloomCol", "bloomCols", "bloomBits",
      "dvDeletes")

  /** The canonical `props` action encoding — shared by the
    * constructor-config stamp and [[LogStore!.setProperties]], so a
    * re-stamp comparison never sees two spellings of one config. */
  private[catalog] def encodePropsFrom(statsCol: Option[String],
      statsCols: Seq[String], bloomCol: Option[String], bloomBits: Int,
      dvDeletes: Boolean, extraProps: Map[String, String],
      bloomCols: Seq[String] = Nil)
      : Option[String] = {
    val parts =
      statsCol.map(c => s"statsCol=$c").toSeq ++
      (if (statsCols.isEmpty) Nil
       else Seq(s"statsCols=${statsCols.mkString(",")}")) ++
      bloomCol.map(c => s"bloomCol=$c;bloomBits=$bloomBits").toSeq ++
      (if (bloomCols.isEmpty) Nil
       else Seq(s"bloomCols=${bloomCols.mkString(",")}" +
         (if (bloomCol.isEmpty) s";bloomBits=$bloomBits" else ""))) ++
      (if (dvDeletes) Seq("dvDeletes=true") else Nil) ++
      extraProps.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
    if (parts.isEmpty) None else Some(parts.mkString(";"))
  }

  /** COLUMN MAPPING (Delta-style logical→physical indirection): a
    * field may carry its on-disk parquet name in StructField
    * metadata under [[PhysicalNameKey]]. RENAME rewrites only the
    * logical name (the physical stays — old segments keep reading);
    * DROP hides the field and retires its physical name; a column
    * (re-)added under a previously-used name gets a fresh
    * `col-<uuid>` physical so dropped data can never resurrect. The
    * mapping rides the schema action (StructType.json preserves
    * metadata), so every reader that plans from the recorded schema
    * sees it for free; fields without the key are identity-mapped —
    * pre-mapping tables and segments stay byte-compatible. */
  private[graft] val PhysicalNameKey = "graft.physical"

  private[graft] def physicalName(
      f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalNameKey))
      f.metadata.getString(PhysicalNameKey)
    else f.name

  private[graft] def hasMapping(
      sc: org.apache.spark.sql.types.StructType): Boolean =
    sc.fields.exists(_.metadata.contains(PhysicalNameKey))

  private[graft] def physicalSchema(
      sc: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      sc.fields.map(f => f.copy(name = physicalName(f))))

  /** True iff a STRING segment bound is recordable: its spelling is
    * inert in the line-oriented log grammar (no quote / backslash /
    * newline, none of the `xs` field's `|` `;` delimiters), printable
    * ASCII, non-empty, and short. Values outside the set record NO
    * bounds for that segment-column — always-scan, never mis-prune.
    * ASCII-only is also what keeps the two orderings bounds
    * participate in — Scala's UTF-16 `String` compare (the skipping
    * checks) and Spark's UTF-8 binary collation (which computed the
    * min/max) — in agreement on every comparison that involves a
    * bound: at the first differing position, ASCII-vs-anything orders
    * identically under both encodings. */
  /** "Any queried bit clear" is a PROOF of absence — the Bloom
    * membership test over a hex-serialized filter. */
  private[catalog] def hexHasBits(hex: String,
      positions: Seq[Int]): Boolean =
    positions.forall { p =>
      val nib = hex.charAt(p / 4)
      val v = java.lang.Integer.parseInt(String.valueOf(nib), 16)
      (v & (1 << (p % 4))) != 0
    }

  /** RETIRED physical names — dropped columns' storage names, kept in
    * the props action so a later add can never reclaim them. */
  private[graft] def retiredPhysical(propsStr: Option[String])
      : Set[String] =
    propsStr.toSeq.flatMap(_.split(';'))
      .filter(_.startsWith("graft.retiredPhysical="))
      .flatMap(_.stripPrefix("graft.retiredPhysical=").split(','))
      .filter(_.nonEmpty).toSet

  private[graft] def safeStringBound(s: String): Boolean =
    s.nonEmpty && s.length <= 96 &&
      s.forall(ch => ch >= ' ' && ch <= '~' && ch != '"' &&
        ch != '\\' && ch != '|' && ch != ';')

  /** The add-action line grammar. `bxs` (the name-keyed extra Blooms)
    * is written AFTER the dv fields: a new optional field appended at
    * the END of the grammar degrades gracefully for a reader that
    * predates it — it loses at worst the filter (an optimization),
    * never the trailing deletion vector (correctness: a dropped
    * dvf/dvr would resurrect deleted rows). The reader accepts the
    * field in BOTH positions because r17 writers emitted it between
    * xs and rows. Companion-level so EXECUTORS can parse checkpoint
    * part files with the exact driver grammar (the distributed
    * t$segments scan). */
  private[catalog] val AddLineRe =
    ("\"add\"\\s*:\\s*\"([^\"]+)\"" +
      "(?:,\"min\":\"([^\"]*)\",\"max\":\"([^\"]*)\",\"num\":(true|false))?" +
      "(?:,\"bloom\":\"([0-9a-f]*)\")?" +
      "(?:,\"xs\":\"([^\"]*)\")?" +
      "(?:,\"bxs\":\"([^\"]*)\")?" +
      "(?:,\"rows\":(\\d+))?" +
      "(?:,\"dvf\":\"([^\"]*)\",\"dvr\":(\\d+))?" +
      "(?:,\"bxs\":\"([^\"]*)\")?").r

  /** Executor-side parse of one checkpoint PART line into the
    * describeSegments row shape (sans bytes and has_bloom): (segment,
    * rows, dv_rows, min, max, extra_stats_columns). Non-add lines
    * (markers, txn/vacuum/schema/props) parse to None. Pure function
    * of the line — the distributed ops scan maps it over
    * spark.read.textFile of the part files. */
  private[catalog] def parseAddLineForOps(line: String)
      : Option[(String, Long, Long, String, String, String)] =
    AddLineRe.findFirstMatchIn(line).map { m =>
      val extraCols = Option(m.group(6)).filter(_.nonEmpty)
        .map(_.split(';').map(e => e.take(e.indexOf('|')))
          .sorted.mkString(","))
        .getOrElse("")
      (m.group(1),
        Option(m.group(8)).map(_.toLong).getOrElse(-1L),
        Option(m.group(9)).filter(_.nonEmpty)
          .map(_ => m.group(10).toLong).getOrElse(0L),
        m.group(2), m.group(3), extraCols)
    }

  /** Executor-side parse of one Bloom SIDECAR line: the segment name
    * when the line carries a PRIMARY bloom hex (has_bloom's
    * definition — name-keyed extras do not count, matching the
    * driver-side view). */
  private[catalog] def parseBloomLineName(line: String)
      : Option[String] =
    AddLineRe.findFirstMatchIn(line).collect {
      case m if Option(m.group(5)).exists(_.nonEmpty) => m.group(1)
    }

  /** A segment directory's physical bytes — executor-callable (the
    * distributed ops view). A missing directory reads 0: an ops VIEW
    * reports, it never throws a whole table view away over one
    * orphaned entry (the log-vs-disk mismatch shows up as 0 bytes
    * against a recorded row count, which is exactly the signal an
    * operator wants). */
  private[catalog] def segmentBytesOf(
      fs: org.apache.hadoop.fs.FileSystem, root: String,
      name: String): Long =
    try fs.getContentSummary(new Path(s"$root/$name")).getLength
    catch { case _: java.io.FileNotFoundException => 0L }

  /** Sharded-checkpoint bucket count: the smallest power of two
    * holding ~[bucketRows] segments per bucket, capped so the
    * manifest's file lists stay small. Power-of-two sizing means K
    * changes only at table-size doublings — each change forces one
    * full (non-incremental) checkpoint rewrite, amortized over the
    * doubling. */
  private[catalog] def bucketCountFor(n: Int, bucketRows: Int): Int = {
    val want = math.max(1, (n + bucketRows - 1) / bucketRows)
    var k = 1
    while (k < want && k < 4096) k <<= 1
    k
  }

  /** A segment's checkpoint bucket — a pure function of its NAME
    * (String.hashCode is spec-pinned, stable across JVMs), so bucket
    * membership never shifts under inserts/removes elsewhere: the
    * property that makes clean buckets carriable by reference. */
  private[catalog] def bucketOf(name: String, k: Int): Int =
    (name.hashCode & 0x7fffffff) % k

  /** The explicit file list of a v2 sharded-checkpoint manifest
    * (`"-"` = no file for that bucket); None on single-file and v1
    * manifests. */
  private[catalog] def manifestFileList(body: String,
      key: String): Option[Array[String]] =
    ("\"" + key + "\"\\s*:\\s*\"([^\"]*)\"").r.findFirstMatchIn(body)
      .map(_.group(1).split(',').map(_.trim))

  /** Ceiling on RECORDED deletion-vector rows a snapshot scan will
    * reconcile by broadcast anti-join. A (seg, file, pos) row costs
    * ~100 bytes in the driver-built hash relation, so 2²⁰ rows is
    * ~100 MB — the top of what a shared driver should pin per query.
    * Above it the reconciliation joins shuffled (executor-bounded);
    * the vector-pressure rule in [[LogStore.maintainLayout]] is the
    * policy that keeps tables out of that regime. */
  private[graft] val DvBroadcastRowLimit: Long = 1L << 20

  /** The fixed shape every deletion-vector parquet is written with:
    * (file name, file-global row position). */
  private[graft] val dvSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType)))

  /** Construct a store CONFIGURED FROM THE LOG: the `props`
    * table-configuration action (statsCol / statsCols / bloomCol /
    * bloomBits) recorded by past writers is read back and applied, so
    * a reader that knows only the PATH — the DSv2 connector, an ops
    * job, another codebase — gets the same segment-pruning behavior as
    * the writing code, without out-of-band configuration. A table with
    * no recorded props (never configured, or pre-stamp) degrades to a
    * plain store: every read correct, no pruning — the same safe
    * default as a segment without stats. */
  def configured(spark: SparkSession, root: String,
      checkpointInterval: Int = 10): LogStore = {
    val plain = new LogStore(spark, root,
      checkpointInterval = checkpointInterval)
    plain.recordedProps() match {
      case None => plain
      case Some(p) =>
        val kv = p.split(';').iterator.filter(_.contains('='))
          .map { e =>
            val i = e.indexOf('=')
            (e.take(i), e.drop(i + 1))
          }.toMap
        new LogStore(spark, root,
          statsCol = kv.get("statsCol"),
          checkpointInterval = checkpointInterval,
          bloomCol = kv.get("bloomCol"),
          bloomBits = kv.get("bloomBits").map(_.toInt).getOrElse(4096),
          statsCols = kv.get("statsCols").toSeq
            .flatMap(_.split(',').toSeq).filter(_.nonEmpty),
          dvDeletes = kv.get("dvDeletes").contains("true"),
          // application props round-trip: a configured() writer must
          // re-stamp them, never silently drop them from the action
          extraProps = kv.view.filterKeys(!EngineProps.contains(_))
            .toMap,
          bloomCols = kv.get("bloomCols").toSeq
            .flatMap(_.split(',').toSeq).filter(_.nonEmpty))
    }
  }
}
