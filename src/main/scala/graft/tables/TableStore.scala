package graft.tables

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, element_at, lit, max, min, regexp_replace, sum, when}
import org.apache.spark.sql.types._
import graft.operators.MergeInto

/** Managed-table layer over parquet with file-level manifests — the
  * stand-in for Delta/Unity-Catalog managed tables (SURVEY.md §1.1, §7.1
  * module 2; the reference stores everything in Delta but never touches
  * storage directly, so its DataFrame logic is storage-agnostic).
  *
  * Layout: `root/<db>/<table>/v_<n>/` data directories plus a
  * `v_<n>/_MANIFEST` listing every data file (relative to the table dir —
  * entries may reference files written by EARLIER versions) with optional
  * per-file min/max column statistics, the table schema, the commit's
  * operation label and the version's write layout (partition, sort and
  * stats columns — Delta's `metaData` action); a `_CURRENT` pointer file
  * names the live version and is swapped via atomic move, so readers
  * never observe a partial commit. This is the Delta transaction-log
  * shape reduced to one snapshot file per version, and one parse of it is
  * a table's whole committed state ([[Snapshot]]): the layout is staged,
  * rebased, restored, cloned and aborted together with its version.
  *
  *  - MERGE/UPDATE/DELETE are **file-pruned copy-on-write**: a discovery
  *    pass finds the files that actually contain affected rows (the
  *    `__graft_file` identity column of [[scanWithPos]] + the statement
  *    predicate / merge join), only those files are rewritten, and the new
  *    manifest unions untouched + rewritten files. A one-row UPDATE
  *    against a 100 TB table rewrites one file, not 100 TB.
  *  - Partition columns live IN the data files (the hive-style directory
  *    layout uses duplicated `__p_<col>` columns purely for write
  *    clustering), so partition pruning is manifest metadata pruning —
  *    exactly Delta's model, with no directory-listing discovery.
  *  - Per-file min/max stats are collected at write time for the partition
  *    + sort columns and consulted by every scan: reads go through a
  *    [[ManifestFileIndex]] that keeps only the files whose stats admit
  *    the filters the query pushes down (SQL lookups, `read(name).filter`,
  *    MERGE/UPDATE/DELETE scans), and the DML discovery passes prune their
  *    candidate sets the same way — data skipping for sorted/clustered
  *    tables.
  *
  * Concurrent writers arbitrate through one optimistic single-table
  * commit protocol (`TableStore.commit`: stage, then compare-and-swap or
  * rebase under a per-table lock) and multi-table [[TableStore.transaction]]s.
  */
final case class TableMeta(
    comment: Option[String] = None,
    columnComments: Map[String, String] = Map.empty,
    properties: Map[String, String] = Map.empty)

object TableStore {
  /** Parquet codec of every file the store writes (see `parquetWriter`). */
  private[tables] val ParquetCodec = "zstd"
  /** Hidden physical column rewrites use to carry a row's tracked id —
    * never in any manifest schema, so plain explicit-schema reads never
    * see it. */
  private[tables] val RowIdCol = "__graft_rowid"

  // Weak session keys: a stopped/garbage-collected session drops its
  // registry entry instead of being strongly retained forever.
  private val sessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.LinkedHashSet[TableStore]]())

  def attach(spark: SparkSession, store: TableStore): Unit = sessions.synchronized {
    sessions.computeIfAbsent(spark, _ => new java.util.LinkedHashSet[TableStore]()).add(store)
  }

  def detach(spark: SparkSession, store: TableStore): Unit = sessions.synchronized {
    Option(sessions.get(spark)).foreach(_.remove(store))
  }

  private def stores(spark: SparkSession): Seq[TableStore] = sessions.synchronized {
    Option(sessions.get(spark)).map(_.asScala.toSeq).getOrElse(Seq.empty)
  }

  /** Attach every store attached to `from` to `to` as well: a session
    * made by `from.newSession()` starts with no stores of its own, so SQL
    * on it could not resolve store tables by name. */
  def attachAll(from: SparkSession, to: SparkSession): Unit =
    stores(from).foreach(attach(to, _))

  /** What file skipping needs to know about a table, resolved once per
    * read: the schema the predicate names columns by, the physical →
    * predicate-name map the per-file stats are re-keyed through, and the
    * bloom-indexed columns (lower-cased predicate name → physical name). */
  private final case class SkipContext(schema: StructType,
      statNames: Map[String, String], blooms: Map[String, String])

  /** The attached store holding `table` — SQL-text DML routes through this.
    * Two live stores holding the same table name is a real ambiguity (the
    * statement would silently rewrite one of them), so it errors instead
    * of last-attached-wins. */
  def resolve(spark: SparkSession, table: String): Option[TableStore] =
    stores(spark).filter(_.exists(table)) match {
      case Seq() => None
      case Seq(one) => Some(one)
      case many => throw new IllegalStateException(
        s"table $table exists in ${many.size} attached TableStores (roots " +
          s"${many.map(_.rootDir).mkString(", ")}) — detach the stale store " +
          "(TableStore.detach) before issuing SQL DML against it")
    }

  /** The value checks of the typed table knobs, keyed by property name.
    * Their setters run them, and SQL runs them on a whole TBLPROPERTIES
    * bag before it changes anything. */
  def checkKnob(table: String, key: String, value: String): Unit = key match {
    case "dml_mode" =>
      require(Set("cow", "mor")(value), s"dml mode must be cow or mor, got $value")
    case "target_file_rows" =>
      require(value.toLong > 0, s"$table: target file rows must be positive, got $value")
    case "bloom.ndv" =>
      require(value.toLong > 0, s"$table: bloom ndv must be positive, got $value")
    case "isolation" =>
      require(Set("writeserializable", "serializable")(value.toLowerCase),
        s"isolation must be writeserializable or serializable, got $value")
    case "rowtracking" =>
      require(value.equalsIgnoreCase("true"),
        s"$table: row tracking can only be enabled ('true'), got $value")
    case _ =>
  }

  /** The attached store owning database namespace `db` (SQL CTAS routing). */
  def resolveDb(spark: SparkSession, db: String): Option[TableStore] =
    stores(spark).filter(_.dbExists(db)) match {
      case Seq() => None
      case Seq(one) => Some(one)
      case many => throw new IllegalStateException(
        s"database $db exists in ${many.size} attached TableStores (roots " +
          s"${many.map(_.rootDir).mkString(", ")}) — detach the stale store first")
    }

  /** Intent ids (`<pid>_<nanos>`) whose commit window is OPEN in this
    * process — registered before the intent file exists, removed when the
    * publish finishes or fails. Attach-time recovery must skip these: an
    * intent file exists during every HEALTHY commit, and "our own pid is
    * alive" cannot distinguish a live commit on another thread from an
    * interrupted one whose intent must be rolled forward. */
  private[tables] val inflightTxnIntents: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Host tag for writer-identity tokens: `ProcessHandle` liveness is
    * only meaningful on the host that minted the pid, so on the shared
    * filesystems the commit lock supports, a liveness check for a token
    * minted elsewhere must answer "unknown" — never "dead". Resolution
    * never blocks on DNS (env/procfs first; `getLocalHost` can stall for
    * the resolver timeout on misconfigured hosts), and an UNRESOLVABLE
    * hostname yields a per-process tag, not a shared sentinel — two
    * hosts both falling back to the same constant would judge each
    * other's pids and re-enable exactly the cross-host lock-breaking
    * this tag exists to prevent. The `~` separator cannot appear in a
    * hostname. */
  private[tables] val localHost: String = {
    def env = Option(System.getenv("HOSTNAME")).map(_.trim).filter(_.nonEmpty)
    def proc = try {
      val p = Paths.get("/proc/sys/kernel/hostname")
      if (Files.isReadable(p))
        Some(new String(Files.readAllBytes(p), UTF_8).trim).filter(_.nonEmpty)
      else None
    } catch { case _: java.io.IOException => None }
    def dns = try Some(java.net.InetAddress.getLocalHost.getHostName)
      catch { case _: java.io.IOException => None }
    // procfs (kernel-authoritative) before the user-controlled HOSTNAME
    // env var — a wrong/leaked env value minting another machine's name
    // would re-enable cross-host breaking; dns last (resolver stall).
    // The per-process fallback trades self-recovery-after-restart for
    // collision safety: on such a host a crashed writer's intents stay
    // untouched until an operator intervenes — the conservative side.
    proc.orElse(env).orElse(dns).map(_.replace('~', '-')).getOrElse(
      s"unresolved-${ProcessHandle.current().pid()}-${System.nanoTime()}")
  }

  /** `host~pid_nanos` — the ONE writer-identity token format lock files
    * and intent filenames record; parsing lives in [[sameHostPid]] so a
    * format change cannot silently break one consumer. Nanos are
    * zero-padded to fixed width so every complete token of one process
    * has ONE length — which makes "is this a truncated write of MY
    * token?" decidable by the strict-prefix test in
    * [[TableStore]].cleanupOwnFailedLock (a strict prefix can never be
    * some sibling thread's complete token). */
  private[tables] def writerToken(): String = {
    val nanos = System.nanoTime() & Long.MaxValue
    f"$localHost~${ProcessHandle.current().pid()}_$nanos%019d"
  }

  /** The pid a token records, if it was minted on THIS host. A foreign
    * host's pid is meaningless here, and a HOST-LESS token's provenance
    * is unknowable (it could be a live writer elsewhere), so both parse
    * to None — never assume local.
    *
    * The nanos tail may be 1 to 19 digits: [[writerToken]] has always
    * written SOME digits there, but only zero-padded them to the fixed
    * 19 since the format hardening — a lock or intent left by a
    * pre-padding build (`host~pid_123`) must stay parseable or a dead
    * legacy holder wedges the table through any upgrade overlap.
    *
    * Tolerating a variable-width tail stays SOUND for breakers because
    * a token that parses AT ALL carries its writer's complete host and
    * pid: the pid digits are terminated by the `_`, so a truncated
    * write either lost the `_` (no parse — treated as a live acquirer
    * mid-write, never broken) or was cut inside the nanos, in which
    * case host and pid are intact and liveness is judged against the
    * TRUE writer. A live writer's partial is therefore never broken
    * (its real pid answers alive), which is what keeps
    * [[TableStore]].cleanupOwnFailedLock's "an empty or unreadable lock
    * after OUR failed write is still ours" reasoning valid: no breaker
    * can have removed a live writer's partial and let a successor
    * re-create the file. A DEAD writer's nanos-cut partial now parses
    * and breaks — the correct outcome the fixed width needlessly gave
    * up. The fixed width still earns its keep in
    * cleanupOwnFailedLock's strict-prefix test (one length per
    * complete token of a process ⇒ a strict prefix is never a sibling
    * thread's complete token). */
  private[tables] def sameHostPid(token: String): Option[Long] = {
    val i = token.indexOf('~')
    if (i < 0) None
    else {
      val host = token.substring(0, i)
      val rest = token.substring(i + 1)
      val u = rest.indexOf('_')
      if (u <= 0) None
      else {
        val digits = rest.substring(0, u)
        val nanos = rest.substring(u + 1)
        if (host == localHost && digits.forall(_.isDigit) &&
            nanos.nonEmpty && nanos.length <= 19 && nanos.forall(_.isDigit))
          scala.util.Try(digits.toLong).toOption
        else None
      }
    }
  }

  /** True only when the token was minted on this host AND its process is
    * provably gone. Foreign-host, host-less, unparseable, and live (or
    * pid-reused) writers all answer false — never break what you cannot
    * prove dead. */
  private[tables] def writerDead(token: String): Boolean =
    sameHostPid(token).exists { p =>
      !ProcessHandle.of(p).map[java.lang.Boolean](_.isAlive).orElse(false)
    }

  /** One breaker per sidecar path per JVM: a second in-JVM channel to a
    * file the JVM already holds an advisory lock on would, on plain
    * fcntl platforms, RELEASE that lock when closed — voiding the
    * breakers' cross-process mutual exclusion. */
  private[tables] val breakersActive: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

/** The writer surface [[TableStore]] and [[Txn]] share: an operator that
  * runs either standalone (per-table commits) or inside a transaction
  * (staged, all-or-nothing) takes an `Option[Txn]` and dispatches through
  * `txn.getOrElse(store): TableWriter` — ONE argument list per write, so
  * the two paths stay semantically identical by construction instead of
  * by keeping duplicated call sites in sync by hand. Each implementation
  * keeps its own ledger operation label (`merge` vs `txn_merge`). */
trait TableWriter {
  /** Full-snapshot write — [[TableStore.createOrReplace]] semantics. */
  def writeSnapshot(name: String, df: DataFrame, partitionBy: Seq[String] = Nil,
      sortWithin: Seq[String] = Nil, statsFor: Seq[String] = Nil): Unit
  /** MERGE INTO with the full [[TableStore.merge]] clause surface. */
  def writeMerge(name: String, source: DataFrame, keys: Seq[String],
      extraOn: Option[Column] = None,
      matched: Seq[MergeInto.MatchedAction] = Nil,
      notMatched: Seq[MergeInto.NotMatchedInsert] = Nil,
      notMatchedBySource: Seq[MergeInto.BySourceAction] = Nil,
      schemaEvolution: Boolean = false): Unit
}

/** Writer handle inside a [[TableStore.transaction]]: collects staged
  * single-visibility writes. Each table may be written at most once per
  * transaction, and staged writes are invisible until the transaction's
  * all-or-nothing commit. */
final class Txn private[tables] (store: TableStore) extends TableWriter {
  private val staged =
    scala.collection.mutable.ArrayBuffer.empty[(String, Int, Path, Option[Int])]

  /** The one-write-per-table rule, checked EARLY (before the expensive
    * staging work) here and authoritatively (under the ledger lock, with
    * cleanup) in [[record]]. */
  private def failIfStaged(name: String): Unit = staged.synchronized {
    require(!staged.exists(_._1 == name),
      s"transaction already wrote $name — one write per table per transaction " +
        "(writes see pre-transaction state, so a second write would silently " +
        "discard the first)")
  }

  private def stage(name: String, df: DataFrame, partitionBy: Seq[String],
      sortWithin: Seq[String], statsFor: Seq[String], append: Boolean,
      op: Option[String] = None): Unit = {
    failIfStaged(name)
    val (v, d, b) = store.txnStage(name, df, partitionBy, sortWithin,
      statsFor, append, op.getOrElse(if (append) "txn_append" else "txn_write"))
    record(name, v, d, b)
  }

  /** Stage a full-snapshot write (createOrReplace semantics). */
  def createOrReplace(name: String, df: DataFrame, partitionBy: Seq[String] = Nil,
      sortWithin: Seq[String] = Nil, statsFor: Seq[String] = Nil): Unit =
    stage(name, df, partitionBy, sortWithin, statsFor, append = false)

  /** Stage an append to an existing table (its current files carry over,
    * the new rows become new files — layout preserved). `op` overrides the
    * commit's operation label — e.g. a streaming sink records
    * `stream_append:<batchId>` so [[TableStore.lastStreamBatch]] sees the
    * progress marker inside the atomic transactional commit. */
  def append(name: String, df: DataFrame, op: String = "txn_append"): Unit =
    stage(name, df, Nil, Nil, Nil, append = true, Some(op))

  /** Stage a MERGE INTO (the full [[TableStore.merge]] clause surface,
    * candidate-bounded file-pruned copy-on-write) whose visibility joins
    * the transaction's all-or-nothing commit — the shape an incremental
    * multi-index ingest wants: a batch that merges into stats + language
    * + dup-exposure + hash tables either lands EVERYWHERE or nowhere, so
    * a crash between merges can never leave the indexes mutually
    * inconsistent. The merge reads the table's pre-transaction state
    * (same as every staged write); `mor`-mode tables are rejected —
    * deletion-vector commits don't stage. Returns the discovery reading
    * [[TableStore.merge]] returns. */
  def merge(
      name: String,
      source: DataFrame,
      keys: Seq[String],
      extraOn: Option[org.apache.spark.sql.Column] = None,
      matched: Seq[graft.operators.MergeInto.MatchedAction] = Nil,
      notMatched: Seq[graft.operators.MergeInto.NotMatchedInsert] = Nil,
      notMatchedBySource: Seq[graft.operators.MergeInto.BySourceAction] = Nil,
      schemaEvolution: Boolean = false,
      op: String = "txn_merge"): (Int, Int) = {
    failIfStaged(name)
    store.mergeInternal(name, source, keys, extraOn, matched, notMatched,
      notMatchedBySource, schemaEvolution, op, txn = Some(this))
  }

  // TableWriter: forwarders that keep this path's staged semantics and
  // ledger labels
  override def writeSnapshot(name: String, df: DataFrame, partitionBy: Seq[String],
      sortWithin: Seq[String], statsFor: Seq[String]): Unit =
    createOrReplace(name, df, partitionBy, sortWithin, statsFor)
  override def writeMerge(name: String, source: DataFrame, keys: Seq[String],
      extraOn: Option[Column], matched: Seq[MergeInto.MatchedAction],
      notMatched: Seq[MergeInto.NotMatchedInsert],
      notMatchedBySource: Seq[MergeInto.BySourceAction],
      schemaEvolution: Boolean): Unit =
    merge(name, source, keys, extraOn, matched, notMatched,
      notMatchedBySource, schemaEvolution)

  /** Staging is thread-safe on DIFFERENT tables — a multi-index ingest
    * stages its independent merges concurrently (Spark schedules jobs
    * from many threads); the ledger is the only shared state, and the
    * duplicate-table guard re-checks under the lock at record time. A
    * loser of that race has already staged a full version dir that was
    * never recorded, so it is dropped HERE — txnAbort only cleans
    * recorded entries. */
  private[tables] def record(name: String, v: Int, dir: Path,
      base: Option[Int]): Unit = staged.synchronized {
    if (staged.exists(_._1 == name)) {
      store.txnAbort(Seq(dir))
      throw new IllegalArgumentException(
        s"transaction already wrote $name — concurrent stagings raced on one " +
          "table; the losing version directory was dropped")
    }
    staged += ((name, v, dir, base))
  }

  /** Read-your-writes WITHIN the transaction: the staged (uncommitted)
    * content of a table this transaction has written — or the table's
    * pre-transaction state if it hasn't. This is what lets a multi-stage
    * pipeline chain its stages (silver feeds gold) inside ONE
    * all-or-nothing commit: ordinary readers see nothing until every
    * pointer swaps, while the transaction itself reads what it staged. */
  def readStaged(name: String): DataFrame = {
    val hit = staged.synchronized { staged.find(_._1 == name).map(_._2) }
    hit match {
      case Some(v) => store.readStagedVersion(name, v)
      case None => store.read(name)
    }
  }

  /** Once the commit's intent journal is durable, failures roll FORWARD
    * (the attach-time recovery completes the publish) — aborting would
    * drop version directories out from under already-swapped pointers. */
  private[tables] var commitBegan = false

  private[tables] def commitAll(): Unit =
    store.txnCommit(staged.synchronized(staged.toSeq), () => { commitBegan = true })
  private[tables] def abort(): Unit =
    if (!commitBegan) store.txnAbort(staged.synchronized(staged.map(_._3).toSeq))
}

final class TableStore(spark: SparkSession, root: String) extends TableWriter {

  // SQL-text DML (MERGE/UPDATE/DELETE via spark.sql) resolves table names
  // against the session's attached stores, keyed by table name.
  TableStore.attach(spark, this)

  // Table scans list nothing (ManifestFileIndex), but the remaining
  // multi-path parquet reads — deletion-vector sidecars, COPY INTO sources
  // — still go through Spark's path listing, and past 32 paths (the stock
  // parallelPartitionDiscovery threshold) Spark launches a distributed
  // listing JOB just to stat them: measured 2.3 s per read of 64 paths on
  // an idle local[32], pure scheduling overhead at any scale. Driver-side
  // listing is a stat call per path, so raise the threshold (never lower a
  // caller's larger setting) — multi-thousand-path reads keep the
  // distributed path.
  locally {
    val k = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    // malformed override must not hard-fail store attach — fall back
    val want = sys.env.get("GRAFT_LIST_THRESHOLD")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(4096)
    val cur = scala.util.Try(spark.conf.get(k).toInt).getOrElse(32)
    if (cur < want) spark.conf.set(k, want.toString)
  }

  def rootDir: String = root

  /** Remove this store from the session's SQL-DML routing registry. */
  def detach(): Unit = TableStore.detach(spark, this)

  // ---------------------------------------------------------------- layout

  private def tableDir(name: String): Path = {
    val parts = name.split('.')
    require(parts.length == 2, s"table name must be db.table, got $name")
    Paths.get(root, parts(0), parts(1))
  }

  /** The table's current committed version, read from the `_CURRENT`
    * pointer on every call (the optimistic-concurrency token for
    * [[replaceIfUnchanged]], and the fresh read every commit-lock check
    * makes). */
  def version(name: String): Option[Int] = {
    val ptr = tableDir(name).resolve("_CURRENT")
    if (Files.exists(ptr)) Some(new String(Files.readAllBytes(ptr)).trim.toInt) else None
  }

  private def swapTo(name: String, version: Int): Unit = {
    val dir = tableDir(name)
    val tmp = dir.resolve(s"_CURRENT.tmp.$version")
    Files.createDirectories(dir)
    Files.write(tmp, version.toString.getBytes)
    Files.move(tmp, dir.resolve("_CURRENT"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def exists(name: String): Boolean = version(name).isDefined

  /** Whether a database namespace exists under the store root (SQL CTAS
    * lowers only into existing store namespaces). */
  def dbExists(db: String): Boolean = Files.exists(Paths.get(root, db))

  // ------------------------------------------------------------- manifests

  /** Per-file column statistics in canonical string form (numbers,
    * booleans, dates and timestamps as decimal strings; strings raw) —
    * comparable without re-reading the file. */
  private[tables] final case class ColStats(min: String, max: String)

  /** One data file in a snapshot. `dvs` lists deletion-vector sidecars
    * (manifest-relative parquet directories of `(file, pos)` row positions)
    * that suppress rows of THIS file at read time — the merge-on-read
    * representation a DELETE/UPDATE in `mor` mode commits instead of
    * rewriting the file (Delta's deletion vectors). Min/max stats remain
    * valid with DVs attached: deletion only narrows a file's true range,
    * so stats-based pruning stays conservative.
    *
    * `rows` = the file's physical row count from its footer (-1 when
    * unknown). `base` = the file's base row id when the table tracks row
    * ids (Delta row tracking): the file's rows own the fresh-id range
    * [base, base + rows); -1 before tracking is enabled or for files
    * whose row count is unknown.
    *
    * `nulls` = per-column NULL counts (physical names) read from the
    * parquet footer at write time — Delta's `nullCount` statistic. Unlike
    * min/max (collected only for the layout's stat columns, whose
    * canonicalization is type-sensitive), null counts are free for every
    * leaf column, so `IS NULL` / `IS NOT NULL` predicates can prune on
    * any column. A column absent from the map is unknown (conservative).
    * Deletion vectors only remove rows, so a recorded 0 stays a valid
    * "no nulls" witness and `nulls(c) == rows` (all-null) stays a valid
    * "no non-null" witness with DVs attached. */
  private[tables] final case class FileEntry(rel: String, stats: Map[String, ColStats],
      dvs: Seq[String] = Nil, rows: Long = -1L, base: Long = -1L,
      nulls: Map[String, Long] = Map.empty)

  /** A version's write layout — partition, sort and stats columns in
    * physical names. It rides the version's manifest (`#layout`), so
    * every DML rewrite of that version keeps it and RESTORE, clones and
    * aborted writes agree on it; a manifest without the line has none. */
  private[tables] final case class Layout(partitionBy: Seq[String] = Nil,
      sortWithin: Seq[String] = Nil, statsFor: Seq[String] = Nil)

  /** One parse of one manifest: a table's whole state at `version` —
    * schema (physical names), files, write layout and the operation label
    * the version was committed with (`write`, `merge`, `restore`, …;
    * manifests written before operation tracking read as `write`). A
    * staged manifest parses to the same value under its slot number. */
  private[tables] final case class Snapshot(version: Int, schema: StructType,
      entries: Seq[FileEntry], layout: Layout, op: String)

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)
  private def dec(s: String): String = URLDecoder.decode(s, UTF_8)

  private def manifestPath(name: String, version: Int): Path =
    tableDir(name).resolve(s"v_$version").resolve("_MANIFEST")

  private def stagedManifestPath(name: String, version: Int): Path =
    tableDir(name).resolve(s"v_$version").resolve("_MANIFEST.staged")

  /** Manifests are STAGED under a temp name and atomically renamed to
    * `_MANIFEST` only inside the locked commit — every reader treats
    * manifest existence as "committed" (versions(), history, time travel,
    * [[lastStreamBatch]]), so during the staging window (arbitrarily long
    * for [[transaction]]s) uncommitted data must not be reachable, and an
    * in-flight `stream_append:<id>` label must not advance the
    * exactly-once gate before its commit is durable. `snap.version` names
    * the slot. */
  private def writeManifest(name: String, snap: Snapshot): Unit = {
    val dir = tableDir(name).resolve(s"v_${snap.version}")
    Files.createDirectories(dir)
    val entries = snap.entries
    val l = snap.layout
    val layoutLine =
      if (l == Layout()) Nil
      else Seq(Seq(l.partitionBy, l.sortWithin, l.statsFor)
        .map(_.map(enc).mkString(",")).mkString("#layout\t", "\t", ""))
    val dvLines = entries.filter(_.dvs.nonEmpty).map(e =>
      s"#dv\t${enc(e.rel)}\t${enc(e.dvs.mkString(","))}")
    val rowLines = entries.filter(_.rows >= 0).map(e =>
      s"#rows\t${enc(e.rel)}\t${e.rows}")
    val baseLines = entries.filter(_.base >= 0).map(e =>
      s"#base\t${enc(e.rel)}\t${e.base}")
    val nullLines = entries.filter(_.nulls.nonEmpty).map(e =>
      s"#nulls\t${enc(e.rel)}\t" + e.nulls.toSeq.sortBy(_._1)
        .map { case (c, n) => s"${enc(c)}=$n" }.mkString(","))
    val lines = Seq(s"#schema\t${enc(snap.schema.json)}", s"#op\t${enc(snap.op)}") ++
      layoutLine ++ dvLines ++ rowLines ++ baseLines ++ nullLines ++ entries.map { e =>
      (enc(e.rel) +: e.stats.toSeq.sortBy(_._1).flatMap { case (c, st) =>
        Seq(enc(c), enc(st.min), enc(st.max))
      }).mkString("\t")
    }
    Files.write(stagedManifestPath(name, snap.version),
      lines.mkString("\n").getBytes(UTF_8))
  }

  /** Commit a staged manifest: atomic rename to the name readers look for.
    * Must run inside the table's commit lock, before the pointer swap. The
    * mtime is refreshed so [[history]]/[[versionAsOf]] see the COMMIT time,
    * not the stage time — a transaction may stage long before it swaps, and
    * timestamp travel needs commit times monotone in the version order. */
  private def promoteManifest(name: String, version: Int): Unit = {
    // row tracking: claim base row ids for this commit's NEW files here —
    // every commit path funnels through promoteManifest and holds the
    // table's commit lock, so the high-water claim is race-free (the
    // identity-column lesson applied from the start). Carried-over
    // entries keep their bases; a file without a footer row count stays
    // unassigned (its rows read a NULL id rather than a wrong one).
    if (rowTrackingEnabled(name)) {
      val staged = stagedSnapshot(name, version)
      if (staged.entries.exists(e => e.base < 0 && e.rows >= 0)) {
        var hw = rowHighWater(name)
        val based = staged.entries.map { e =>
          if (e.base < 0 && e.rows >= 0) { val b = hw; hw += e.rows; e.copy(base = b) }
          else e
        }
        writeManifest(name, staged.copy(entries = based))
        setMeta(name, meta(name).copy(properties =
          meta(name).properties + ("row_high_water" -> hw.toString)))
      }
    }
    val committed = manifestPath(name, version)
    Files.move(stagedManifestPath(name, version), committed,
      StandardCopyOption.ATOMIC_MOVE)
    Files.setLastModifiedTime(committed,
      java.nio.file.attribute.FileTime.from(java.time.Instant.now()))
  }

  /** The live version's snapshot — the one place a missing table raises. */
  private def snapshot(name: String): Snapshot =
    snapshotAt(name, version(name).getOrElse(
      throw new IllegalArgumentException(s"table not found: $name")))

  /** A committed version's snapshot (time travel, history, the diffs). */
  private def snapshotAt(name: String, version: Int): Snapshot =
    parseManifest(manifestPath(name, version), version, s"manifest of $name v$version")

  /** A staged (not yet committed) version's snapshot. */
  private def stagedSnapshot(name: String, version: Int): Snapshot =
    parseManifest(stagedManifestPath(name, version), version,
      s"staged manifest of $name v$version")

  private def parseManifest(path: Path, version: Int, what: String): Snapshot = {
    val lines = new String(Files.readAllBytes(path), UTF_8)
      .split('\n').toSeq.filter(_.nonEmpty)
    val schema = lines.headOption.filter(_.startsWith("#schema\t")) match {
      case Some(l) => DataType.fromJson(dec(l.split('\t')(1))).asInstanceOf[StructType]
      case None => throw new IllegalStateException(s"$what has no schema")
    }
    // one pass over the `#tag<TAB>file<TAB>value` side lines (#dv, #rows,
    // #base, #nulls): (tag, file) → raw value; `#schema`/`#op` have no
    // file, `#layout` carries its three column lists
    val (tagged, fileLines) = lines.partition(_.startsWith("#"))
    val side: Map[(String, String), String] = tagged.iterator.map(_.split('\t'))
      .collect { case Array(tag, rel, v) if tag != "#layout" => (tag, dec(rel)) -> v }.toMap
    val op = tagged.collectFirst {
      case l if l.startsWith("#op\t") => dec(l.split('\t')(1))
    }.getOrElse("write")
    val layout = tagged.collectFirst {
      case l if l.startsWith("#layout\t") =>
        // limit -1 keeps empty lists (a sort-only layout has no partitions)
        val Array(pb, sw, sf) = l.split("\t", -1).tail.map(s =>
          if (s.isEmpty) Seq.empty[String] else s.split(',').toSeq.map(dec))
        Layout(pb, sw, sf)
    }.getOrElse(Layout())
    def long(tag: String, rel: String): Long = side.get((tag, rel)).fold(-1L)(_.toLong)
    val entries = fileLines.map { l =>
      val parts = l.split('\t')
      val stats = parts.tail.grouped(3).collect {
        case Array(c, mn, mx) => dec(c) -> ColStats(dec(mn), dec(mx))
      }.toMap
      val rel = dec(parts(0))
      FileEntry(rel, stats,
        side.get(("#dv", rel)).fold(Seq.empty[String])(v => dec(v).split(',').toSeq),
        long("#rows", rel), long("#base", rel),
        side.get(("#nulls", rel)).fold(Map.empty[String, Long])(_.split(',').iterator.map { kv =>
          val i = kv.lastIndexOf('=')
          dec(kv.substring(0, i)) -> kv.substring(i + 1).toLong
        }.toMap))
    }
    Snapshot(version, schema, entries, layout, op)
  }

  private def absPath(name: String, rel: String): String =
    tableDir(name).resolve(rel).toString

  /** A `__graft_file` path → manifest-relative path. Paths outside the
    * table directory (shallow-clone entries) relativize through `..`
    * segments, matching how [[cloneTo]] anchors them. */
  private def relOf(name: String, fileUri: String): String = {
    val p = if (fileUri.startsWith("file:")) new java.net.URI(fileUri).getPath else fileUri
    tableDir(name).toAbsolutePath.normalize
      .relativize(Paths.get(p).toAbsolutePath.normalize).toString
  }

  // ----------------------------------------------------------- stats canon

  /** Canonicalize a Catalyst literal (internal representation). None when
    * the literal type is not stats-comparable. */
  private def canonLiteral(l: Literal): Option[(String, Boolean)] = {
    if (l.value == null) return None
    l.dataType match {
      case BooleanType => Some(((if (l.value.asInstanceOf[Boolean]) "1" else "0"), true))
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
        Some((l.value.toString, true))
      case _: FloatType | _: DoubleType =>
        // NaN/Infinity have no BigDecimal form — cmp would throw, killing
        // the whole statement. No stats canon → the file is simply not
        // pruned (conservative, correct: footerStats already refuses to
        // record non-finite min/max on the stats side)
        val d = l.value match {
          case f: java.lang.Float => f.doubleValue()
          case x: java.lang.Double => x.doubleValue()
        }
        if (java.lang.Double.isFinite(d)) Some((l.value.toString, true)) else None
      case _: DecimalType =>
        Some((l.value.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal.toPlainString, true))
      case DateType => Some((l.value.toString, true)) // internal = epoch days
      case _: TimestampType | _: TimestampNTZType => Some((l.value.toString, true)) // micros
      case StringType => Some((l.value.toString, false))
      case _ => None
    }
  }

  /** Whether a column's stats compare numerically (vs as raw strings). */
  private def numericKind(dt: DataType): Option[Boolean] = dt match {
    case BooleanType | DateType | _: TimestampType | _: TimestampNTZType |
         _: ByteType | _: ShortType | _: IntegerType | _: LongType |
         _: FloatType | _: DoubleType | _: DecimalType => Some(true)
    case StringType => Some(false)
    case _ => None
  }

  private def cmp(a: String, b: String, numeric: Boolean): Int =
    if (numeric) new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    // parquet BINARY/UTF8 footer stats are min/max under UNSIGNED UTF-8
    // byte order; java.lang.String.compareTo orders by UTF-16 code units,
    // and the two disagree for supplementary code points (≥ U+10000 sorts
    // below U+E000..U+FFFF in UTF-16 but above in UTF-8). Comparing under
    // any other order than the one the stats were computed under could
    // prune a file that actually contains the value.
    else java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  /** Per-file min/max, per-column null counts, and row count from the
    * parquet footer: driver-side metadata reads, no Spark job. Columns
    * whose physical/logical type has no usable stats (INT96 timestamps,
    * all-null blocks) are simply omitted — pruning is conservative about
    * missing stats. Min/max is restricted to `cols` (the layout's stat
    * columns — canonicalization is type-sensitive); null counts cover
    * EVERY leaf column (they need no canonicalization and make IS NULL /
    * IS NOT NULL prunable everywhere). */
  private def footerStats(file: Path, cols: Seq[String])
      : (Map[String, ColStats], Map[String, Long], Long) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

    // canonical string for one parquet-physical value, or None if the
    // column's type cannot be canonicalized; Boolean = is-numeric kind
    def canonValue(prim: PrimitiveType, v: Any): Option[(String, Boolean)] = {
      val logical = prim.getLogicalTypeAnnotation
      def decimalScale: Option[Int] = logical match {
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => Some(d.getScale)
        case _ => None
      }
      prim.getPrimitiveTypeName match {
        case BOOLEAN => Some((if (v.asInstanceOf[Boolean]) "1" else "0", true))
        case INT32 => decimalScale match {
          case Some(s) => Some((java.math.BigDecimal.valueOf(
            v.asInstanceOf[Integer].longValue, s).toPlainString, true))
          case None => Some((v.toString, true)) // plain ints and DATE epoch days
        }
        case INT64 => logical match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            val micros = t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS => v.asInstanceOf[java.lang.Long] * 1000L
              case LogicalTypeAnnotation.TimeUnit.MICROS => v.asInstanceOf[java.lang.Long].longValue
              case LogicalTypeAnnotation.TimeUnit.NANOS => v.asInstanceOf[java.lang.Long] / 1000L
            }
            Some((micros.toString, true))
          case _ => decimalScale match {
            case Some(s) => Some((java.math.BigDecimal.valueOf(
              v.asInstanceOf[java.lang.Long], s).toPlainString, true))
            case None => Some((v.toString, true))
          }
        }
        case FLOAT | DOUBLE =>
          // NaN/±Infinity have no decimal form (BigDecimal throws); omit
          // the value so the column simply contributes no stats — pruning
          // stays conservative instead of the whole commit failing after
          // the data files are already written
          val d = v match {
            case f: java.lang.Float => f.doubleValue
            case x: java.lang.Double => x.doubleValue
          }
          if (java.lang.Double.isFinite(d))
            Some((new java.math.BigDecimal(v.toString).toPlainString, true))
          else None
        case BINARY | FIXED_LEN_BYTE_ARRAY => logical match {
          case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
            Some((v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8, false))
          case _ => decimalScale.map { s =>
            (new java.math.BigDecimal(
              new java.math.BigInteger(
                v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes), s)
              .toPlainString, true)
          }
        }
        case _ => None // INT96 has no (trustworthy) stats
      }
    }

    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), spark.sparkContext.hadoopConfiguration)
    val reader = ParquetFileReader.open(in)
    try {
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      val blocks = footer.getBlocks.asScala.toSeq
      val rowCount = blocks.map(_.getRowCount).sum
      val stats = cols.flatMap { c =>
        // per-block stats; EVERY block must contribute or the column is
        // skipped (a block without stats could hold out-of-range values)
        val perBlock: Seq[Option[(String, String, Boolean)]] = blocks.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == c).flatMap { cc =>
            val st = cc.getStatistics
            if (st == null || !st.hasNonNullValue) None
            else {
              val prim = schema.getColumnDescription(cc.getPath.toArray).getPrimitiveType
              (canonValue(prim, st.genericGetMin), canonValue(prim, st.genericGetMax)) match {
                case (Some((mn, k)), Some((mx, _))) => Some((mn, mx, k))
                case _ => None
              }
            }
          }
        }
        if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
        else {
          val all = perBlock.flatten
          val numeric = all.head._3
          val mn = all.map(_._1).reduce((a, b) => if (cmp(a, b, numeric) <= 0) a else b)
          val mx = all.map(_._2).reduce((a, b) => if (cmp(a, b, numeric) >= 0) a else b)
          Some(c -> ColStats(mn, mx))
        }
      }.toMap
      // null counts for every leaf column: EVERY block must report one
      // (isNumNullsSet) or the column's count is unknown — a block without
      // the statistic could hide nulls either way
      val leafPaths: Seq[String] =
        blocks.headOption.map(_.getColumns.asScala.toSeq.map(_.getPath.toDotString))
          .getOrElse(Nil)
      val nulls = leafPaths.flatMap { c =>
        val perBlock = blocks.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == c).flatMap { cc =>
            val st = cc.getStatistics
            if (st == null || !st.isNumNullsSet) None else Some(st.getNumNulls)
          }
        }
        if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
        else Some(c -> perBlock.flatten.sum)
      }.toMap
      (stats, nulls, rowCount)
    } finally reader.close()
  }

  /** Conservative file pruning: keep a file unless `pred` provably cannot
    * be true for any of its rows, judged from per-file min/max ranges,
    * null counts and row counts. The predicate tree is walked with
    * three-valued semantics — "possibly true" vs "provably never true" —
    * so `AND`/`OR`/`NOT`/`IN` compose (a file is skipped for an OR only
    * when EVERY disjunct excludes it), `IS NULL` skips files whose null
    * count is 0, `IS NOT NULL` skips all-null files, and `LIKE 'p%'` /
    * startsWith skips files whose [min, max] cannot contain a `p`-prefixed
    * string. Unanalyzable subtrees prune nothing. `pred` speaks logical
    * (visible) column names. */
  private def pruneEntries(name: String, schema: StructType, entries: Seq[FileEntry],
      pred: Column): Seq[FileEntry] =
    pruneWith(name, skipContext(meta(name).properties, schema, logical = true),
      entries, org.apache.spark.sql.GraftShims.catalystExpr(pred))

  /** Skipping context for predicates over logical names (`logical`) or
    * over the physical names a [[ManifestFileIndex]] scan outputs. */
  private def skipContext(props: Map[String, String], physical: StructType,
      logical: Boolean): TableStore.SkipContext = {
    val rn = renamesOf(props)
    val rev = rn.map(_.swap)
    val blooms = bloomColsOf(props).map { c =>
      val phys = rev.getOrElse(c, c)
      (if (logical) c else phys).toLowerCase -> phys
    }.toMap
    if (logical) TableStore.SkipContext(logicalizeWith(props, physical), rn, blooms)
    else TableStore.SkipContext(physical, Map.empty, blooms)
  }

  private def pruneWith(name: String, ctx: TableStore.SkipContext, entries: Seq[FileEntry],
      pred: Expression): Seq[FileEntry] = {
    // per-file stats are keyed by the physical names the footers carry —
    // remap the lookup to the predicate's names, not the entries
    val rn = ctx.statNames
    def statsOf(e: FileEntry): Map[String, ColStats] =
      if (rn.isEmpty) e.stats
      else e.stats.map { case (k, v) => (rn.getOrElse(k, k), v) }
    def nullsOf(e: FileEntry): Map[String, Long] =
      if (rn.isEmpty) e.nulls
      else e.nulls.map { case (k, v) => (rn.getOrElse(k, k), v) }
    val lschema = ctx.schema
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // Column-DSL comparisons arrive as unresolved FUNCTIONS ("=", "<", …)
    // rather than the binary nodes the SQL parser builds — normalize both
    // spellings to the same shapes before structural matching
    def normalize(e: Expression): Expression = e.transformUp {
      // a CAST around a NULL literal (lit(null).cast(t)) is still a NULL
      // literal of the target type — unwrap so the null rules below see it
      case c: Cast if c.child.isInstanceOf[Literal] &&
          c.child.asInstanceOf[Literal].value == null => Literal(null, c.dataType)
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.length == 1 && f.arguments.length == 2 =>
        val Seq(l, r) = f.arguments
        f.nameParts.head.toLowerCase match {
          case "=" | "==" => EqualTo(l, r)
          case "<=>" => EqualNullSafe(l, r)
          case "<" => LessThan(l, r)
          case "<=" => LessThanOrEqual(l, r)
          case ">" => GreaterThan(l, r)
          case ">=" => GreaterThanOrEqual(l, r)
          case "and" => And(l, r)
          case "or" => Or(l, r)
          case "startswith" => StartsWith(l, r)
          case "in" | "isin" => In(l, Seq(r))
          case _ => f
        }
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.length == 1 && f.arguments.length == 1 =>
        f.nameParts.head.toLowerCase match {
          case "isnull" => IsNull(f.arguments.head)
          case "isnotnull" => IsNotNull(f.arguments.head)
          case "not" | "!" => Not(f.arguments.head)
          case _ => f
        }
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.length == 1 && f.arguments.length >= 2 &&
            (f.nameParts.head.equalsIgnoreCase("in") ||
              f.nameParts.head.equalsIgnoreCase("isin")) =>
        In(f.arguments.head, f.arguments.tail)
    }
    def attrName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.nameParts.last)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    val expr = normalize(pred)

    // equality bounds from TOP-LEVEL conjuncts feed the bloom second stage
    // (a point value inside a disjunct can't refine — the other disjunct
    // might keep the file)
    val eqBounds: Seq[(String, String, String, Boolean)] = conjuncts(expr).flatMap {
      case EqualTo(a, l: Literal) if attrName(a).isDefined =>
        canonLiteral(l).map(v => (attrName(a).get, "=", v._1, v._2))
      case EqualTo(l: Literal, a) if attrName(a).isDefined =>
        canonLiteral(l).map(v => (attrName(a).get, "=", v._1, v._2))
      case EqualNullSafe(a, l: Literal) if attrName(a).isDefined =>
        canonLiteral(l).map(v => (attrName(a).get, "=", v._1, v._2))
      case _ => None
    }

    // "could some row of a file with these stats satisfy `op`?" — false
    // only on proof; every unanalyzable shape answers true
    def possible(e: Expression, st: Map[String, ColStats],
        nulls: Map[String, Long], rows: Long): Boolean = {
      // range check: op ∈ =, <, <=, >, >= with a non-null literal
      def range(a: Expression, l: Literal, op: String): Boolean =
        if (l.value == null) false // comparison with NULL is never TRUE
        else (attrName(a), canonLiteral(l)) match {
          case (Some(c), Some((v, litNumeric))) =>
            (st.get(c), lschema.find(_.name.equalsIgnoreCase(c)).map(_.dataType)) match {
              case (Some(cs), Some(dt)) =>
                numericKind(dt) match {
                  case Some(num) if num == litNumeric =>
                    op match {
                      case "=" => cmp(cs.min, v, num) <= 0 && cmp(cs.max, v, num) >= 0
                      case "<" => cmp(cs.min, v, num) < 0
                      case "<=" => cmp(cs.min, v, num) <= 0
                      case ">" => cmp(cs.max, v, num) > 0
                      case ">=" => cmp(cs.max, v, num) >= 0
                    }
                  case _ => true // kind mismatch (e.g. string literal vs date col)
                }
              case _ => true // no stats for this column → cannot exclude
            }
          case _ => true
        }
      // strings with prefix p live in [p, successor(p)) under the same
      // unsigned UTF-8 byte order the footer stats use
      def prefixPossible(a: Expression, prefix: String): Boolean =
        attrName(a).flatMap(c => st.get(c).map((c, _))) match {
          case Some((c, cs))
              if lschema.find(_.name.equalsIgnoreCase(c))
                .exists(_.dataType == StringType) =>
            val p = prefix.getBytes(UTF_8)
            val mx = cs.max.getBytes(UTF_8)
            if (java.util.Arrays.compareUnsigned(p, mx) > 0) false // all values < p
            else {
              // successor(p): strip trailing 0xFF, bump the last byte; all
              // 0xFF (or empty) → no upper bound
              val trimmed = p.reverse.dropWhile(_ == -1).reverse
              if (trimmed.isEmpty) true
              else {
                val succ = trimmed.clone(); succ(succ.length - 1) = (succ(succ.length - 1) + 1).toByte
                val mn = cs.min.getBytes(UTF_8)
                java.util.Arrays.compareUnsigned(mn, succ) < 0 // min below the prefix block's end
              }
            }
          case _ => true
        }
      def go(e: Expression): Boolean = e match {
        case And(x, y) => go(x) && go(y)
        case Or(x, y) => go(x) || go(y)
        case Not(IsNull(a)) => go(IsNotNull(a))
        case Not(IsNotNull(a)) => go(IsNull(a))
        case Not(EqualTo(a, l: Literal)) if attrName(a).isDefined =>
          // rows where a IS NULL evaluate != to NULL (not TRUE), so the
          // file is excludable exactly when min == max == v: every non-null
          // value equals v and no row can satisfy != v
          if (l.value == null) false
          else {
            val c = attrName(a).get
            val provablyAllEqual = (for {
              cs <- st.get(c)
              (v, num) <- canonLiteral(l)
              dt <- lschema.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
              nk <- numericKind(dt) if nk == num
            } yield cmp(cs.min, v, num) == 0 && cmp(cs.max, v, num) == 0)
              .getOrElse(false)
            !provablyAllEqual
          }
        case Not(EqualTo(l: Literal, a)) => go(Not(EqualTo(a, l)))
        case Not(_) => true // unanalyzable negation
        case IsNull(a) => attrName(a) match {
          case Some(c) => nulls.get(c).forall(_ > 0) // 0 recorded nulls → no row matches
          case None => true
        }
        case IsNotNull(a) => attrName(a) match {
          case Some(c) => !(rows >= 0 && nulls.get(c).contains(rows)) // all-null file
          case None => true
        }
        case EqualNullSafe(a, l: Literal) =>
          if (l.value == null) go(IsNull(a)) else range(a, l, "=")
        case EqualNullSafe(l: Literal, a) =>
          if (l.value == null) go(IsNull(a)) else range(a, l, "=")
        case In(a, list) if list.nonEmpty && list.forall(_.isInstanceOf[Literal]) =>
          // IN is TRUE iff some element matches; a NULL element contributes
          // NULL, never TRUE — range() already answers false for it
          list.exists(l => range(a, l.asInstanceOf[Literal], "="))
        case InSet(a, hset) if hset.nonEmpty =>
          // the optimizer's form of an IN list longer than
          // spark.sql.optimizer.inSetConversionThreshold: the same test
          // over internal values of the column's type
          val dt = if (a.resolved) Some(a.dataType)
            else attrName(a).flatMap(c => lschema.find(_.name.equalsIgnoreCase(c))).map(_.dataType)
          dt.forall(t => hset.exists(v => v != null &&
            scala.util.Try(Literal(v, t)).toOption.forall(range(a, _, "="))))
        case EqualTo(a, l: Literal) => range(a, l, "=")
        case EqualTo(l: Literal, a) => range(a, l, "=")
        case LessThan(a, l: Literal) => range(a, l, "<")
        case LessThan(l: Literal, a) => range(a, l, ">")
        case LessThanOrEqual(a, l: Literal) => range(a, l, "<=")
        case LessThanOrEqual(l: Literal, a) => range(a, l, ">=")
        case GreaterThan(a, l: Literal) => range(a, l, ">")
        case GreaterThan(l: Literal, a) => range(a, l, "<")
        case GreaterThanOrEqual(a, l: Literal) => range(a, l, ">=")
        case GreaterThanOrEqual(l: Literal, a) => range(a, l, "<=")
        case StartsWith(a, Literal(p, StringType)) if p != null =>
          prefixPossible(a, p.toString)
        case Like(a, Literal(p, StringType), _) if p != null => {
          // LIKE 'p%' with a wildcard-free prefix is a prefix test
          val s = p.toString
          if (s.nonEmpty && s.endsWith("%") &&
              !s.dropRight(1).exists(ch => ch == '%' || ch == '_' || ch == '\\'))
            prefixPossible(a, s.dropRight(1))
          else true
        }
        case Literal(v, BooleanType) => v == true // false AND null literals never pass a filter
        case _ => true
      }
      go(e)
    }

    val kept = entries.filter(e => possible(expr, statsOf(e), nullsOf(e), e.rows))
    if (eqBounds.isEmpty) kept else bloomRefine(name, kept, eqBounds, ctx.blooms)
  }

  // ------------------------------------------------------- bloom skipping

  /** Second-stage file skipping for EQUALITY conjuncts on bloom-indexed
    * columns ([[setBloomFilterIndex]]): a point predicate whose value
    * falls inside a file's [min, max] box (so min/max pruning keeps the
    * file) is checked against the parquet-native bloom filter the write
    * embedded in that file's footer region. The check is driver-side
    * metadata I/O — footer + bloom bitset, never data pages — and runs
    * only on the min/max SURVIVORS of a point lookup, so its cost is
    * bounded by the residual candidate set, not the table. Conservative
    * in every direction: a file written before the index was declared, a
    * row group with no bloom, or a literal whose parquet-physical form we
    * can't reconstruct all keep the file. */
  private def bloomRefine(name: String, entries: Seq[FileEntry],
      bounds: Seq[(String, String, String, Boolean)],
      blooms: Map[String, String]): Seq[FileEntry] = {
    if (entries.isEmpty || blooms.isEmpty) return entries
    val eqs = bounds.flatMap { case (c, op, v, _) =>
      if (op == "=") blooms.get(c.toLowerCase).map(_ -> v) else None }
    if (eqs.isEmpty) return entries
    entries.filter { e =>
      eqs.forall { case (phys, v) => bloomMightContain(name, e.rel, phys, v) }
    }
  }

  /** Per-(file, column) bloom filters, cached — data files are immutable
    * once committed, so a loaded bitset stays valid for the file's
    * lifetime. Bounded: the cache clears wholesale past 512 entries
    * (bitsets are ~ndv bytes each; the default index is ~120 KB). */
  private val bloomCache = new java.util.concurrent.ConcurrentHashMap[String,
    Option[Seq[(org.apache.parquet.schema.PrimitiveType,
      org.apache.parquet.column.values.bloomfilter.BloomFilter)]]]()

  private def fileBlooms(name: String, rel: String, physCol: String):
      Option[Seq[(org.apache.parquet.schema.PrimitiveType,
        org.apache.parquet.column.values.bloomfilter.BloomFilter)]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val abs = absPath(name, rel)
    val key = abs + "#" + physCol
    if (bloomCache.size > 512) bloomCache.clear()
    bloomCache.computeIfAbsent(key, _ => try {
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(Paths.get(abs).toUri),
        spark.sparkContext.hadoopConfiguration)
      val reader = ParquetFileReader.open(in)
      try {
        val footer = reader.getFooter
        val schema = footer.getFileMetaData.getSchema
        // EVERY row group must carry a bloom or the file is unprunable (a
        // group without one could hold the value)
        val per = footer.getBlocks.asScala.toSeq.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == physCol).flatMap { cc =>
            Option(reader.readBloomFilter(cc)).map { bf =>
              (schema.getColumnDescription(cc.getPath.toArray).getPrimitiveType, bf)
            }
          }
        }
        if (per.isEmpty || per.exists(_.isEmpty)) None else Some(per.flatten)
      } finally reader.close()
    } catch { case _: Exception => None })
  }

  /** Might `rel` contain a row whose `physCol` equals the value whose
    * canonical string ([[canonLiteral]]) is `canon`? True = cannot
    * exclude (keep the file). */
  private def bloomMightContain(name: String, rel: String, physCol: String,
      canon: String): Boolean =
    fileBlooms(name, rel, physCol) match {
      case None => true
      case Some(per) => per.exists { case (prim, bf) =>
        bloomHash(prim, bf, canon) match {
          case None => true // unreconstructable parquet-physical value
          case Some(h) => bf.findHash(h)
        }
      }
    }

  /** Rebuild the parquet-physical value the writer hashed into the bloom
    * from a canonical literal string, for the types [[canonLiteral]] and
    * parquet's bloom writer agree on. Unsupported or mismatched forms
    * (e.g. a fractional literal against an INT32 column) return None —
    * the caller keeps the file. */
  private def bloomHash(prim: org.apache.parquet.schema.PrimitiveType,
      bf: org.apache.parquet.column.values.bloomfilter.BloomFilter,
      canon: String): Option[Long] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val logical = prim.getLogicalTypeAnnotation
    try prim.getPrimitiveTypeName match {
      case INT32 => logical match {
        case null | _: LogicalTypeAnnotation.IntLogicalTypeAnnotation |
             _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
          Some(bf.hash(canon.toInt)) // DATE's canonical form is epoch days
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          Some(bf.hash(new java.math.BigDecimal(canon)
            .setScale(d.getScale).unscaledValue().intValueExact()))
        case _ => None
      }
      case INT64 => logical match {
        case null | _: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
          Some(bf.hash(canon.toLong))
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          // canonical timestamps are micros; rescale to the stored unit
          val micros = canon.toLong
          Some(bf.hash(t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MILLIS => micros / 1000L
            case LogicalTypeAnnotation.TimeUnit.MICROS => micros
            case LogicalTypeAnnotation.TimeUnit.NANOS => Math.multiplyExact(micros, 1000L)
          }))
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          Some(bf.hash(new java.math.BigDecimal(canon)
            .setScale(d.getScale).unscaledValue().longValueExact()))
        case _ => None
      }
      case BINARY => logical match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
          Some(bf.hash(org.apache.parquet.io.api.Binary.fromString(canon)))
        case _ => None
      }
      case _ => None
    } catch { case _: ArithmeticException | _: NumberFormatException => None }
  }

  /** Observability: the current manifest as a DataFrame — one row per
    * data file with row count, byte size, deletion-vector count and the
    * per-column min/max stats pruning consults (logical column names).
    * Driver-side metadata only; backs the `table_files('db.t')` SQL TVF
    * (the Iceberg `.files` / Delta DESCRIBE DETAIL inspection surface,
    * file edition). */
  def fileInventory(name: String): DataFrame = {
    val rn = renames(name)
    val rows = snapshot(name).entries.map { e =>
      org.apache.spark.sql.Row(e.rel, e.rows,
        Files.size(Paths.get(absPath(name, e.rel))), e.dvs.size,
        e.stats.map { case (k, v) =>
          (rn.getOrElse(k, k), org.apache.spark.sql.Row(v.min, v.max)) })
    }
    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("rows", LongType, nullable = false),
      StructField("size_bytes", LongType, nullable = false),
      StructField("dv_count", IntegerType, nullable = false),
      StructField("stats", MapType(StringType, StructType(Seq(
        StructField("min", StringType), StructField("max", StringType)))))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1).asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]],
      schema)
  }

  /** File list a predicate-bearing scan of `name` would open — exposed so
    * tests and tooling can assert data skipping. */
  def prunedFileList(name: String, pred: Option[Column]): Seq[String] = {
    val snap = snapshot(name)
    pred.map(p => pruneEntries(name, snap.schema, snap.entries, p)).getOrElse(snap.entries)
      .map(_.rel)
  }

  // ---------------------------------------------------------------- writes

  /** Empty frame with exactly `schema` — the CREATE TABLE (no AS) seed. */
  def emptyFrame(schema: StructType): DataFrame = emptyDf(schema)

  private def emptyDf(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** K2: declare an empty table from an explicit schema (the reference's
    * CREATE OR REPLACE TABLE DDL, constraints recorded as metadata only —
    * Spark cannot enforce PK/FK, SURVEY.md §1.1). */
  def createEmpty(name: String, schema: StructType): Unit =
    createOrReplace(name, emptyDf(schema))

  /** Allocate the next version number by atomically creating its
    * directory — the allocation doubles as the writer mutex: two
    * concurrent writers can never claim the same version. */
  private def allocateVersion(name: String): (Int, Path) = {
    Files.createDirectories(tableDir(name))
    var v = version(name).getOrElse(0) + 1
    while (true) {
      try {
        val dir = tableDir(name).resolve(s"v_$v")
        Files.createDirectory(dir)
        return (v, dir)
      } catch { case _: java.nio.file.FileAlreadyExistsException => v += 1 }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Delete an allocated-but-never-committed version directory. Every
    * reader treats manifest existence as "committed" (versions(), history,
    * VERSION/TIMESTAMP AS OF, changesBetween, restore), so a commit that
    * fails AFTER writing its manifest — e.g. an optimistic-concurrency
    * conflict — must remove the directory or the losing writer's
    * uncommitted data becomes readable via time travel. carryOver entries
    * live in OTHER version directories and are untouched. */
  private def dropAbortedVersion(dir: Path): Unit =
    if (Files.exists(dir))
      walkAll(dir).sorted.reverse.foreach(Files.deleteIfExists(_))

  /** `Files.walk`/`Files.list` hold a directory handle until CLOSED —
    * every traversal in this class drains through these two helpers so a
    * long-lived driver (periodic vacuum, streaming commits) cannot leak
    * one fd per directory visited and die of "Too many open files" (the
    * `Scratch.deleteRecursively` lesson, applied store-wide). */
  private def walkAll(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** The single-table commit protocol — every commit outside multi-table
    * [[transaction]]s publishes here, so this is the one place a table's
    * pointer moves (and the one place to instrument it).
    *
    *  1. Allocate `v_<next>` atomically ([[allocateVersion]]).
    *  2. Run `stage` outside the lock: it writes data, sidecars (`cdc/`,
    *     `dv/`, `copy_files`) and the staged manifest into the slot, or
    *     returns false — nothing to commit, the slot is dropped.
    *  3. Publish under the table's commit lock. Optimistic concurrency:
    *     with `expectedBase` set, the current version must still be the
    *     one the writer derived its changes from; if it moved, the commit
    *     is rebased onto it ([[tryRebase]]) or, on genuine conflict (or
    *     always, with `strictCas`), raises
    *     `ConcurrentModificationException` instead of clobbering the
    *     other writer (Delta's conflict-detection shape, reduced to one
    *     pointer). Without a base (plain replace) the commit still never
    *     moves the pointer backward: it renumbers past an interloper that
    *     claimed a higher number while it staged. Then the manifest is
    *     promoted and the pointer swapped.
    *
    * On any failure the (possibly renumbered) directory is dropped, so a
    * losing writer never surfaces as a phantom committed version. */
  private def commit(name: String, expectedBase: Option[Option[Int]] = None,
      strictCas: Boolean = false)(stage: (Int, Path) => Boolean): Unit = {
    val (next, dir) = allocateVersion(name)
    var liveDir = dir // rebase may renumber (move) the staged directory
    try {
      if (!stage(next, dir)) dropAbortedVersion(dir)
      else withCommitLock(name) {
        val finalV = expectedBase match {
          case Some(base) if version(name) != base =>
            val cur = version(name)
            val rebased = (base, cur) match {
              case (Some(bv), Some(cv)) if !strictCas => tryRebase(name, next, bv, cv)
              case _ => None
            }
            rebased match {
              case Some((v, d)) => liveDir = d; v
              case None => throw new java.util.ConcurrentModificationException(
                s"$name moved from version $base to $cur since this writer read " +
                  "it, and the interleaved commits touched data this change " +
                  "depends on — re-derive the change from the current snapshot " +
                  "and retry")
            }
          case _ =>
            // no CAS base (plain replace) or base unmoved — but an
            // interleaved commit may still have claimed a HIGHER number
            // while we staged (replaces assert nothing about the base, so
            // they serialize in lock order): the pointer must never move
            // backward — history, timestamp travel and the change feed
            // all diff v against v-1 — so renumber past the interloper
            if (version(name).exists(_ >= next)) {
              val (v, d) = renumberStaged(name, stagedSnapshot(name, next))
              liveDir = d; v
            } else next
        }
        promoteManifest(name, finalV)
        swapTo(name, finalV)
      }
    } catch { case t: Throwable => dropAbortedVersion(liveDir); throw t }
  }

  /** The one parquet writer of the store: data files and the change-feed,
    * deletion-vector and discovery sidecars all compress with zstd
    * (Iceberg's default Parquet codec), set per write — never as a
    * session conf, which would also change files callers write outside
    * the store. Against Spark's default snappy it cut lakebench's
    * bytes-stored ratio by 29% (trickle_dml) and 26% (nightly_refresh)
    * at unchanged statement latency. */
  private def parquetWriter(df: DataFrame) =
    df.write.option("compression", TableStore.ParquetCodec)

  /** Write `df`'s files into the allocated slot `v_<next>` (`dir`)
    * honoring the layout — partitioning, sort, bloom index, target file
    * rows — and stage the manifest `carryOver ++ new` WITHOUT making it
    * current: the expensive half of a commit, shared by [[commit]] bodies
    * and multi-table [[transaction]]s (which stage every table first and
    * swap all pointers together). The staged manifest records `layout`
    * (in physical names) as the version's layout. Returns the new files'
    * entries. On failure the slot is dropped. */
  private def stageVersion(name: String, next: Int, dir: Path, df: DataFrame,
      layout: Layout, carryOver: Seq[FileEntry], schemaHint: Option[StructType],
      op: String): Seq[FileEntry] = {
    try {
      // Generated columns recompute, then CHECK constraints ride the write
      // plan (single pass, raise on violation) — every path that stages
      // data derives and validates what it writes. Both speak logical
      // names, so they apply BEFORE the column-mapping translation to the
      // physical names files store.
      val checked = toPhysicalDf(name,
        enforceChecks(name, applyGeneratedColumns(name, df, schemaHint)))
      // logical→physical rename lookup is case-INsensitive (exact first):
      // a cased spelling of a RENAMED column must still find its physical
      // name, or it slips past resolveLoose below (which only knows
      // physical spellings) and silently drops out of the stats lists —
      // the same silent-drop class, surviving in the rename+case combo
      val physName = { val rev = renames(name).map(_.swap); (c: String) =>
        rev.getOrElse(c, rev.find(_._1.equalsIgnoreCase(c)).map(_._2).getOrElse(c)) }
      // Loose case-normalization of the layout lists: a cased identifier
      // (statsFor = "L_ORDERKEY" on column l_orderkey) otherwise slips
      // through the exact-case statCols filter below and silently
      // disables stats/pruning for that column. LOOSE on purpose — these
      // lists ride every DML rewrite in the manifest and may legitimately
      // carry names a schema change removed; unknown names stay as-is
      // (and are dropped by the filter), they are not an error here.
      def resolveLoose(cs: Seq[String]): Seq[String] = cs.map(physName).map(c =>
        if (checked.columns.contains(c)) c
        else checked.columns.find(_.equalsIgnoreCase(c)).getOrElse(c))
      val physLayout = Layout(resolveLoose(layout.partitionBy),
        resolveLoose(layout.sortWithin), resolveLoose(layout.statsFor))
      val Layout(pbP, swP, sfP) = physLayout
      // partition columns are duplicated into __p_* for the directory layout
      // so the REAL columns stay in the data files (manifest reads need no
      // hive partition reconstruction)
      val dupCols = pbP.map(c => s"__p_$c")
      val withDups = pbP.zip(dupCols).foldLeft(checked) { case (d, (c, p)) =>
        d.withColumn(p, col(c))
      }
      // Output file sizing was A/B'd here TWICE and rejected twice:
      //  - r16: AQE REBALANCE hint before the write — the extra exchange
      //    + optimizer pass cost the 18-query store family 63.4→75.2 s.
      //  - r17: estimate-gated coalesce(1) (optimizedPlan.stats ≤ 32 MB →
      //    one part file, no exchange) — the stats call forces an EXTRA
      //    full analysis+optimization of every staged plan, and the
      //    30-query store family regressed 74.0→87.6 s warm interleaved
      //    (q23 +2.8 s, q59 +2.7 s, x118 +1.7 s — every query lost).
      // Writes therefore keep their incoming partitioning; small-file
      // hygiene stays with compactSmall/setAutoCompact (the bounded
      // maintenance path a 100 TB deployment runs anyway).
      val sorted =
        if (swP.nonEmpty) withDups.sortWithinPartitions(swP.map(col): _*)
        else withDups
      // Write into a data/ SUBDIRECTORY with the default error-if-exists
      // mode — never mode("overwrite") on the version dir itself: the
      // allocated directory IS the writer mutex, and overwrite's
      // delete-then-write window would let a concurrent allocator claim
      // the same version number and clobber this in-flight write.
      val dataDir = dir.resolve("data")
      // bloom-indexed columns ride the parquet writer's native bloom
      // support (per-column hadoop options, honored via the per-write
      // conf — no session-global mutation, safe under concurrent writes)
      val w0 = bloomIndexCols(name).map(physName).filter(checked.columns.contains)
        .foldLeft(parquetWriter(sorted)) { (w, c) =>
          w.option(s"parquet.bloom.filter.enabled#$c", "true")
            .option(s"parquet.bloom.filter.expected.ndv#$c", bloomNdv(name).toString)
        }
      // declared target file size: rows per file are capped at write time
      // (Spark splits a partition's output), so one giant input partition
      // cannot produce one giant unsplittable-for-skipping file
      val w = targetFileRows(name).fold(w0)(n => w0.option("maxRecordsPerFile", n.toString))
      (if (dupCols.nonEmpty) w.partitionBy(dupCols: _*) else w).parquet(dataDir.toString)

      // list the files this write produced
      val newFilesAbs: Seq[Path] =
        if (!Files.exists(dataDir)) Seq.empty
        else walkAll(dataDir)
          .filter(p => p.getFileName.toString.endsWith(".parquet"))

      // per-file min/max stats for the partition + sort (+ requested)
      // columns, read from the parquet FOOTERS the write just produced —
      // driver-side metadata only, no Spark job, no data re-read (a 100 TB
      // write would otherwise pay a second scan just to learn its own
      // stats). Generated-column DEPENDENCIES ride along: a table
      // partitioned by a derived column (par = f(ts)) clusters its base
      // column too, so collecting ts stats makes predicates on ts prune
      // files directly — generated-column partition pruning with no
      // expression inversion (Delta needs a monotonicity whitelist; per-
      // file min/max subsumes it)
      val genDeps = generatedColumns(name).values.toSeq.flatMap { sql =>
        org.apache.spark.sql.GraftShims
          .catalystExpr(org.apache.spark.sql.functions.expr(sql)).collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              a.nameParts.last
          }
      }.map(physName)
      val statCols = (pbP ++ swP ++ sfP ++ genDeps).distinct
        .filter(checked.columns.contains)
      val newEntries = footerEntries(name, newFilesAbs, statCols)
      // a filtered write can produce empty part files (a no-op merge whose
      // touched set is empty does) — drop them from the manifest AND the
      // staging dir, so an idempotent replay commits zero new data files
      // instead of accreting one empty parquet per run
      val (empties, kept) = newEntries.partition(_.rows == 0)
      empties.foreach(e => Files.deleteIfExists(tableDir(name).resolve(e.rel)))
      writeManifest(name, Snapshot(next, schemaHint.getOrElse(checked.schema),
        carryOver ++ kept, physLayout, op))
      kept
    } catch { case t: Throwable => dropAbortedVersion(dir); throw t }
  }

  /** [[commit]] of `df` staged by [[stageVersion]], plus the change-feed
    * rows and COPY INTO's loaded-file ledger inside the same staged
    * version directory — atomic with the commit (an abort drops them with
    * the version). Returns the entries of the files it staged. */
  private def commitVersion(name: String, df: DataFrame, layout: Layout,
      carryOver: Seq[FileEntry], schemaHint: Option[StructType] = None,
      expectedBase: Option[Option[Int]] = None, op: String = "write",
      cdc: Option[DataFrame] = None, copyFiles: Seq[String] = Nil,
      strictCas: Boolean = false): Seq[FileEntry] = {
    var added = Seq.empty[FileEntry]
    commit(name, expectedBase, strictCas) { (next, dir) =>
      added = stageVersion(name, next, dir, df, layout, carryOver, schemaHint, op)
      cdc.foreach(parquetWriter(_).parquet(dir.resolve("cdc").toString))
      if (copyFiles.nonEmpty)
        Files.write(dir.resolve("copy_files"), copyFiles.mkString("\n").getBytes(UTF_8))
      true
    }
    added
  }

  /** WriteSerializable optimistic-concurrency resolution (Delta's default
    * isolation level): a commit whose compare-and-swap fails because the
    * table moved under it is REBASED onto the new current version instead
    * of aborted, whenever (a) the interleaved commits did not change the
    * schema, and (b) they left every file this commit modifies or removes
    * exactly as this writer read it. Blind appends therefore never lose a
    * race (to each other, to DML, or to OPTIMIZE), and a long merge
    * survives concurrent appends and maintenance of files it never
    * rewrote — at 100 TB a 10-minute MERGE must not be thrown away
    * because a streaming micro-batch landed meanwhile. Under
    * [[setIsolation]] `serializable` only blind appends rebase; any
    * rewriting commit conflicts, Delta's stricter level.
    *
    * The rebased manifest is `current ∖ ourTouched ∪ ourEntries`: files
    * added by the interleaved commits are kept, files they removed stay
    * removed (never resurrected), and our rewrite/delete/append applies
    * on top. When the interloper won a HIGHER version number, the staged
    * directory is atomically renamed past it and its entries re-anchored,
    * keeping version numbers monotone in commit order (history,
    * timestamp travel and the change feed all diff `v` against `v-1`).
    *
    * The layout rebases field by field (partition, sort, stats columns):
    * a field this commit changed relative to its base keeps this commit's
    * value, any other takes the current version's. A layout difference
    * never conflicts, so a blind append racing a re-partitioning replace
    * lands under the replace's layout.
    *
    * Returns the (version, directory) to promote, or None on genuine
    * conflict. Must run inside the table's commit lock. */
  private def tryRebase(name: String, next: Int, baseV: Int, curV: Int)
      : Option[(Int, Path)] = {
    if (!Files.exists(manifestPath(name, baseV))) return None // base vacuumed
    val staged = stagedSnapshot(name, next)
    val base = snapshotAt(name, baseV)
    val cur = snapshotAt(name, curV)
    if (cur.schema.json != base.schema.json) return None // concurrent schema change
    val baseByRel = base.entries.map(e => e.rel -> e).toMap
    val curByRel = cur.entries.map(e => e.rel -> e).toMap
    val stagedRels = staged.entries.map(_.rel).toSet
    val ourAdded = staged.entries.filterNot(e => baseByRel.contains(e.rel))
    val ourModified = staged.entries.filter(e => baseByRel.get(e.rel).exists(_ != e))
    val readSet = (ourModified.map(_.rel) ++
      base.entries.map(_.rel).filterNot(stagedRels)).toSet
    if (isolationLevel(name) == "serializable" && readSet.nonEmpty) return None
    // every file we rewrite/modify/delete must be untouched by the
    // interleaved commits — identity includes the deletion-vector set
    if (!readSet.forall(r => curByRel.get(r).contains(baseByRel(r)))) return None
    def field(f: Layout => Seq[String]): Seq[String] =
      if (f(staged.layout) != f(base.layout)) f(staged.layout) else f(cur.layout)
    val rebased = staged.copy(
      entries = cur.entries.filterNot(e => readSet(e.rel)) ++ ourModified ++ ourAdded,
      layout = Layout(field(_.partitionBy), field(_.sortWithin), field(_.statsFor)))
    if (next > curV) {
      writeManifest(name, rebased)
      Some((next, tableDir(name).resolve(s"v_$next")))
    } else {
      Some(renumberStaged(name, rebased))
    }
  }

  /** Renumber a staged version past an interloper that claimed an
    * equal-or-higher number while we staged: claim a fresh version and
    * move the staged directory's CONTENTS into it, keeping the claimed
    * dir itself — the allocated directory doubles as the writer mutex,
    * and the earlier delete-then-rename-of-the-whole-dir shape freed the
    * number for a concurrent stager while rename(2) then landed ON TOP
    * of the empty directory that stager had just claimed: both writers
    * "owned" the version, one failed writing data/ and its abort
    * cleanup deleted the other's committed files. Child moves are
    * same-filesystem atomic renames inside a dir only this writer can
    * touch; readers cannot see the version until _MANIFEST promotes
    * inside the commit lock. Must run inside that lock. `staged` is the
    * manifest to write, still numbered by its staging slot. */
  private def renumberStaged(name: String, staged: Snapshot): (Int, Path) = {
    val next = staged.version
    val old = tableDir(name).resolve(s"v_$next")
    val (claimed, ndir) = allocateVersion(name)
    listDir(old).foreach { child =>
      Files.move(child, ndir.resolve(child.getFileName.toString),
        StandardCopyOption.ATOMIC_MOVE)
    }
    Files.delete(old)
    def reanchor(p: String) =
      if (p.startsWith(s"v_$next/")) s"v_$claimed/" + p.stripPrefix(s"v_$next/") else p
    writeManifest(name, staged.copy(version = claimed, entries = staged.entries.map(e =>
      e.copy(rel = reanchor(e.rel), dvs = e.dvs.map(reanchor)))))
    (claimed, tableDir(name).resolve(s"v_$claimed"))
  }

  /** The table's isolation level for concurrent-commit resolution:
    * `writeserializable` (default — Delta's default; commuting commits
    * rebase, see [[tryRebase]]) or `serializable` (only blind appends
    * rebase; every rewriting commit that loses a race conflicts). */
  private def isolationLevel(name: String): String =
    meta(name).properties.getOrElse("isolation", "writeserializable").toLowerCase

  def setIsolation(name: String, level: String): Unit = {
    TableStore.checkKnob(name, "isolation", level)
    setMeta(name, meta(name).copy(properties =
      meta(name).properties + ("isolation" -> level.toLowerCase)))
  }

  /** Manifest entries for freshly-written files. Footer reads are
    * independent per file and dominated by filesystem latency, so they run
    * in parallel on the driver — a commit producing hundreds of files
    * (every medallion load does) would otherwise serialize hundreds of
    * metadata round-trips. */
  private def footerEntries(name: String, files: Seq[Path],
      statCols: Seq[String]): Seq[FileEntry] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = files.map { p =>
      val rel = tableDir(name).relativize(p).toString
      Future { // the footer also carries the row count DESCRIBE HISTORY reports
        val (stats, nulls, rows) = footerStats(p, statCols)
        FileEntry(rel, stats, Nil, rows, nulls = nulls)
      }
    }
    Await.result(Future.sequence(fs), Duration.Inf)
  }

  /** File-based commit mutex: held only for the pointer check+swap (the
    * expensive data writes happen outside it). Works cross-process on a
    * shared filesystem; an object-store deployment would use a
    * conditional PUT for the same window.
    *
    * The lock file records its holder ([[TableStore.writerToken]],
    * `host~pid_nanos`), and a waiter that finds the recorded holder
    * provably DEAD breaks the lock itself via [[breakDeadLock]] — so a
    * writer that crashes inside the commit window never wedges the
    * table, and nothing anywhere deletes a lock without first proving
    * its current holder is gone (deleting a live writer's lock would put
    * two writers inside the critical section). "Provably dead" requires
    * the token's HOST to match: pid liveness is unknowable across a
    * shared filesystem, so a foreign host's lock is never broken — the
    * pre-liveness behavior (wait, then the >6s manual remedy below).
    * An unreadable/empty holder is likewise treated as live: a failed
    * token write deletes its own lock file on the way out, so an empty
    * lock means a crash in the microseconds between create and write.
    * A MALFORMED token (no `host~pid_` head — e.g. a write cut before
    * the underscore) is treated as live too: a partially-visible write
    * of a live acquirer's token can look exactly like that, and breaking
    * it would let two writers into the window. A token cut INSIDE the
    * nanos tail still carries its writer's complete host and pid, so it
    * parses and is judged by the TRUE writer's liveness — see
    * [[TableStore.sameHostPid]]. */
  private def withCommitLock[T](name: String)(f: => T): T = {
    val lock = tableDir(name).resolve("_COMMIT_LOCK")
    val token = TableStore.writerToken()
    var tries = 0
    while (true) {
      // acquisition is its own try: an exception from the BODY `f` must
      // never be mistaken for lock contention and retried
      val acquired =
        try {
          val ch = Files.newByteChannel(lock,
            StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
          try {
            // loop until the buffer drains: a short write that returns
            // without throwing would otherwise leave a truncated token on
            // disk while this writer proceeds believing it holds the lock
            // (harmless to breakers — a truncated token either fails to
            // parse or parses to THIS live pid, so it is never broken
            // under a live holder — but a holder that proceeded on a
            // short write would leave a token that wedges or misleads
            // after a real crash)
            val buf = java.nio.ByteBuffer.wrap(token.getBytes(UTF_8))
            try { while (buf.hasRemaining) { ch.write(buf); () } }
            finally ch.close()
          } catch { case t: Throwable =>
            // a failed token write must not orphan an empty (unbreakable)
            // lock file — only a hard crash inside this window can; the
            // cleanup is sidecar-serialized so it can never delete a
            // successor's lock (a breaker may have judged our partial
            // token dead and a new writer re-acquired)
            cleanupOwnFailedLock(lock, token); throw t
          }
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      if (acquired) {
        try return f finally Files.deleteIfExists(lock)
      } else {
        val holder = lockHolder(lock)
        if (holder.exists(TableStore.writerDead)) breakDeadLock(lock, holder.get)
        // the break attempt counts toward the same timeout (a break that
        // persistently fails — permissions, racing breakers — must not
        // spin hot forever); a successful break re-acquires next loop
        tries += 1
        if (tries > 600) throw new IllegalStateException(
          s"commit lock $lock held for >6s by " +
            s"${holder.getOrElse("<unknown>")} — crashed writer? " +
            "delete it to recover")
        Thread.sleep(10)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The writer token a lock file records, None if the file vanished
    * (holder released between our check and the read) or is empty
    * (holder crashed mid-acquisition). */
  private def lockHolder(lock: Path): Option[String] =
    try {
      val s = new String(Files.readAllBytes(lock), UTF_8).trim
      if (s.isEmpty) None else Some(s)
    } catch { case _: java.io.IOException => None }

  /** Break a lock whose recorded holder provably died inside the commit
    * window — [[deleteLockIfHolds]] with the dead holder as the expected
    * token. */
  private def breakDeadLock(lock: Path, expected: String): Unit = {
    deleteLockIfHolds(lock, expected)
    ()
  }

  /** Clean up this writer's own lock file after its token write failed.
    * The file is provably still ours, whatever it holds: a truncated
    * token either fails to parse (cut before the `_`) or parses to OUR
    * pid (cut inside the nanos — host and pid survive any such cut,
    * [[TableStore.sameHostPid]]), and we are alive, so no breaker can
    * have judged our partial dead; an empty or unreadable holder is
    * never broken either; and our COMPLETE token names a live process.
    * With no break possible, no successor can have re-created the file —
    * so the holder can only be empty, our token, or a strict prefix of
    * it. The delete still verifies exactly that, atomically under the
    * breaker sidecar ([[deleteLockWhen]]), so even a future format
    * regression could not turn this into a delete of someone else's
    * lock. Ours-but-busy outcomes retry briefly so a transient sidecar
    * collision cannot orphan an unbreakable partial. Never throws: the
    * original write failure is the error the caller reports. */
  private def cleanupOwnFailedLock(lock: Path, ownToken: String): Unit = {
    var tries = 0
    while (tries < 100) {
      val done =
        try deleteLockWhen(lock, h =>
          h.isEmpty || h.exists(t => t == ownToken || ownToken.startsWith(t)))
        catch { case _: java.io.IOException => false }
      if (done) return
      tries += 1
      Thread.sleep(10)
    }
  }

  /** Serialized conditional lock delete: removes `lock` only if, while
    * holding the breaker mutex, it still records exactly `expected`.
    * The mutex is an OS advisory lock on a persistent sidecar
    * (`_COMMIT_LOCK.breaklock`) rather than a marker FILE: an advisory
    * lock cannot go stale — the OS releases it when its holder dies — so
    * there is no stale-marker cleanup and therefore no cleanup race that
    * could void the breakers' mutual exclusion. While one breaker holds
    * the sidecar no other breaker can delete the lock, and a writer can
    * never re-create a lock that still exists (CREATE_NEW), so the
    * re-verify makes verify-then-delete sound by construction: if the
    * path's token still equals `expected`, nothing can change it before
    * our delete. In-JVM breakers are additionally serialized through
    * [[TableStore.breakersActive]] — see its scaladoc — and the sidecar
    * file itself is NEVER deleted (unlinking a file others hold advisory
    * locks on would split the mutex across two inodes). Never throws: a
    * filesystem without advisory-lock support simply cannot break locks,
    * and the waiter falls through to the >6s manual-remedy timeout.
    * Returns true when the lock provably no longer holds `expected`
    * (deleted by us, changed, or already gone); false when the breaker
    * mutex was busy/unavailable and nothing could be verified. */
  private def deleteLockIfHolds(lock: Path, expected: String): Boolean =
    deleteLockWhen(lock, _.contains(expected))

  /** The sidecar-serialized core of [[deleteLockIfHolds]] /
    * [[cleanupOwnFailedLock]]: while holding the breaker mutex, read the
    * lock's holder ([[lockHolder]] — None for gone/empty/unreadable) and
    * delete the file iff `shouldDelete` accepts it. See
    * [[deleteLockIfHolds]] for the mutex's soundness argument and
    * return-value contract. */
  private def deleteLockWhen(lock: Path,
      shouldDelete: Option[String] => Boolean): Boolean = {
    val sidecar = lock.resolveSibling(lock.getFileName.toString + ".breaklock")
    // normalized so two spellings of one root cannot bypass the in-JVM
    // guard (toRealPath would be stronger against symlinked roots but can
    // fail on a not-yet-created sidecar)
    val key = sidecar.toAbsolutePath.normalize.toString
    if (!TableStore.breakersActive.add(key)) return false // in-JVM breaker active
    try {
      val ch = try java.nio.channels.FileChannel.open(sidecar,
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        catch { case _: java.io.IOException => return false }
      try {
        val fl = try ch.tryLock()
          catch {
            // no advisory-lock support (or an unexpected in-JVM overlap):
            // breaking is not safely possible here — let the waiter time out
            case _: java.nio.channels.OverlappingFileLockException => null
            case _: java.io.IOException => null
          }
        if (fl == null) return false // another breaker is active — retry outside
        try {
          if (shouldDelete(lockHolder(lock)))
            try { Files.deleteIfExists(lock); true }
            catch { case _: java.io.IOException => false }
          else true // holder not accepted — nothing left to do
        } finally fl.release()
      } finally ch.close()
    } finally TableStore.breakersActive.remove(key)
  }

  /** Compare-and-swap snapshot write: commits `df` only if the table is
    * still at `baseVersion` (what this writer read); otherwise raises
    * `ConcurrentModificationException` — the lost-update protection the
    * internal DML paths get automatically. */
  def replaceIfUnchanged(name: String, df: DataFrame, baseVersion: Int): Unit =
    commitVersion(name, df, snapshot(name).layout, carryOver = Seq.empty,
      expectedBase = Some(Some(baseVersion)), strictCas = true)

  /** OPTIMIZE-style compaction: rewrite the current manifest's files into
    * `targetFiles` consolidated files (per partition directory when the
    * table is partitioned), preserving layout, sort and stats; any
    * deletion vectors are folded in (the rewrite reads DV-applied rows)
    * and disappear from the new manifest. The antidote to the small-file
    * accumulation that append-only merges — e.g. a streaming ingest —
    * produce; committed with conflict detection so a compaction never
    * clobbers a concurrent writer.
    *
    * `zorderBy` (OPTIMIZE … ZORDER BY): instead of the layout sort, rows
    * are clustered along a Z-order space-filling curve over the given
    * numeric columns — each column is quantile-bucketed (sampling sketch,
    * one job), the bucket bits are interleaved into a z-value, and the
    * rewrite range-partitions + sorts by it. Every z-ordered column's
    * min/max then spans only a fraction of its range per file, so
    * single-column predicates on ANY of the curve's columns skip files —
    * the multi-dimensional version of the sort-based data skipping a
    * single sort column gives. */
  def compact(name: String, targetFiles: Int = 1, zorderBy: Seq[String] = Nil): Unit = {
    val snap = snapshot(name)
    val Layout(pb, sw, sf) = snap.layout
    val df0 = rewriteSource(name, snap, snap.entries)
    // readEntries yields the LOGICAL view; layout names in the manifest
    // are physical — translate for the frame-side operations below
    val lpb = logicalNames(name, pb)
    if (zorderBy.isEmpty) {
      // consolidation lays files out ALONG the stats layout when one is
      // recorded (declared statsFor or adaptive merge keys): range-
      // partitioning on those columns gives every output file a narrow
      // [min, max] box, so the stats the layout asks for actually skip.
      // A round-robin rewrite would give every file the full value range,
      // leaving equality probes to bloom false-positive luck.
      val lsf = logicalNames(name, sf).filter(c =>
        df0.columns.exists(_.equalsIgnoreCase(c)))
      val df =
        if (lpb.nonEmpty) df0.repartition(lpb.map(col): _*)
        else if (lsf.nonEmpty)
          df0.repartitionByRange(math.max(1, targetFiles), lsf.map(col): _*)
        else df0.repartition(math.max(1, targetFiles))
      commitVersion(name, df, snap.layout, carryOver = Seq.empty,
        schemaHint = Some(snap.schema), expectedBase = Some(Some(snap.version)), op = "optimize")
    } else {
      val lschema = logicalizeSchema(name, snap.schema)
      zorderBy.foreach { c =>
        val dt = lschema.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
        require(dt.exists(_.isInstanceOf[NumericType]),
          s"ZORDER BY $c: need a numeric column, got ${dt.getOrElse("missing")}")
      }
      // interleaved bit positions must stay below the long sign bit (63):
      // at 8 bits × 8 columns position 63 would flip the sort order of the
      // top bucket, and ≥9 columns would wrap shiftleft mod 64 — so
      // bits-per-dimension is capped at 63/n. Within that cap, resolution
      // adapts to the file count: enough bits that the z-cells outnumber
      // target files ~16× per dimension (finer buckets only grow the
      // bucket-assignment when() tree the planner must analyze — at 8 bits
      // the 255-node tree, duplicated per interleaved bit, cost more
      // driver planning time than the whole rewrite ran).
      val targetParts = math.max(1, targetFiles)
      val ceilLog2T = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1, targetParts - 1).toLong).toInt
      val bits = {
        val cap = math.min(8, 63 / zorderBy.length)
        math.max(1, math.min(cap, ceilLog2T / zorderBy.length + 4))
      }
      // per-column bucket boundaries from a quantile sketch — ONE pass,
      // sampling-based, the same trick range partitioning uses; an even
      // VALUE split would collapse under skew, an even QUANTILE split
      // cannot
      // bucket boundaries tolerate slack: a boundary off by 1% of rank
      // shifts a 1/256 bucket edge, which only blurs file ranges slightly —
      // the sketch cost scales with 1/error, so don't over-buy precision
      val probes = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
      val quantiles = df0.stat.approxQuantile(zorderBy.toArray, probes, 0.01)
      val prepared = zorderRoute(df0, zorderBy, quantiles, bits, targetParts)
      commitVersion(name, prepared, Layout(pb, Nil, (sf ++ sw ++ zorderBy).distinct),
        carryOver = Seq.empty, schemaHint = Some(snap.schema),
        expectedBase = Some(Some(snap.version)), op = "optimize")
      // persist the curve (bits + per-column quantile boundaries) so
      // INCREMENTAL passes ([[clusterNew]], OPTIMIZE WHERE … ZORDER BY)
      // can route later files onto the SAME cells without re-sketching —
      // Delta liquid clustering's "cluster on write into the existing
      // layout" shape. The baseline version marks which files are
      // already clustered.
      setMeta(name, meta(name).copy(properties = meta(name).properties +
        ("zorder.cols" -> zorderBy.mkString(",")) +
        ("zorder.bits" -> bits.toString) +
        ("zorder.bounds" -> quantiles.map(_.mkString(":")).mkString(";")) +
        ("zorder.base" -> version(name).get.toString)))
    }
  }

  /** Shared z-order shuffle: bucket each column by the given quantile
    * boundaries (binary-search when() tree, codegen'd), interleave the
    * bucket bits into a z-value, range-partition on the z-value into
    * contiguous curve spans, sort within partitions.
    * See [[compact]] for the full rationale. */
  private def zorderRoute(df0: DataFrame, zorderBy: Seq[String],
      quantiles: Array[Array[Double]], bits: Int, targetParts: Int): DataFrame = {
    import org.apache.spark.sql.functions.{shiftleft, shiftright}
    val n = zorderBy.length
    def bucketOf(c: Column, bs: Array[Double], lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi + 1) / 2
        when(c >= bs(mid - 1), bucketOf(c, bs, mid, hi))
          .otherwise(bucketOf(c, bs, lo, mid - 1))
      }
    val buckets = zorderBy.zip(quantiles.toSeq).map { case (c, bs) =>
      bucketOf(col(c).cast("double"), bs, 0, bs.length)
    }
    val zval = (for { k <- 0 until bits; ci <- 0 until n } yield
      shiftleft(shiftright(buckets(ci), k).bitwiseAND(lit(1)).cast("long"), k * n + ci))
      .reduce(_ + _)
    // Range-partition directly on the curve value: contiguous z-ranges per
    // output file (narrow stats boxes) with boundaries chosen by sampling,
    // so occupancy skew along the curve still balances. Stays entirely
    // inside whole-stage codegen — the previous RDD round-trip routed every
    // row through Row ser/deser to hit a hand-built partitioner, which at
    // 10x bench scale dominated the rewrite's wall clock.
    df0.withColumn("__graft_z", zval)
      .repartitionByRange(targetParts, col("__graft_z"))
      .sortWithinPartitions(col("__graft_z"))
      .drop("__graft_z") // projection after sort — intra-partition order survives
  }

  /** The persisted clustering curve, if a full ZORDER optimize ran:
    * (columns, bits, per-column boundaries, baseline version). */
  private def zorderSpec(name: String): Option[(Seq[String], Int, Array[Array[Double]], Int)] = {
    val p = meta(name).properties
    for {
      cols <- p.get("zorder.cols")
      bits <- p.get("zorder.bits")
      bounds <- p.get("zorder.bounds")
      basev <- p.get("zorder.base")
    } yield (cols.split(',').toSeq, bits.toInt,
      // limit -1: split() drops TRAILING empty segments, so a final
      // all-NULL column's empty bounds would vanish and zorderRoute's
      // positional buckets(ci) lookup would go out of range
      bounds.split(";", -1).map(s => if (s.isEmpty) Array.empty[Double]
        else s.split(':').map(_.toDouble)),
      basev.toInt)
  }

  /** Incremental clustering (Delta liquid-clustering shape): rewrite ONLY
    * the given candidate entries along the table's persisted curve; every
    * other file carries over untouched. The new files cover narrow z-cell
    * spans that overlap the already-clustered generation — predicate
    * pruning stays selective across generations, and the cost is the
    * candidate slice, never the table. */
  private def clusterEntries(name: String, snap: Snapshot, candidates: Seq[FileEntry],
      targetFiles: Int): Unit = {
    val (cols, bits, bounds, _) = zorderSpec(name).getOrElse(
      throw new IllegalStateException(
        s"$name: no persisted ZORDER curve — run OPTIMIZE … ZORDER BY first"))
    val cset = candidates.map(_.rel).toSet
    if (candidates.isEmpty ||
        (candidates.size <= 1 && !candidates.exists(_.dvs.nonEmpty))) return
    val Layout(pb, sw, sf) = snap.layout
    val prepared = zorderRoute(rewriteSource(name, snap, candidates),
      cols, bounds, bits, math.max(1, targetFiles))
    commitVersion(name, prepared, Layout(pb, Nil, (sf ++ sw ++ cols).distinct),
      carryOver = snap.entries.filterNot(e => cset(e.rel)), schemaHint = Some(snap.schema),
      expectedBase = Some(Some(snap.version)), op = "optimize")
    setMeta(name, meta(name).copy(properties = meta(name).properties +
      ("zorder.base" -> version(name).get.toString)))
  }

  /** Cluster the files ADDED since the last (full or incremental) ZORDER
    * pass into the existing curve — the routine-maintenance form: appends
    * accumulate, `clusterNew` folds them into the layout at the cost of
    * the backlog only. Falls back to every file when the baseline
    * manifest was vacuumed. */
  def clusterNew(name: String, targetFiles: Int = 1): Unit = {
    val (_, _, _, basev) = zorderSpec(name).getOrElse(
      throw new IllegalStateException(
        s"$name: no persisted ZORDER curve — run OPTIMIZE … ZORDER BY first"))
    val snap = snapshot(name)
    val clustered: Set[String] =
      if (basev == snap.version) snap.entries.map(_.rel).toSet
      else if (!hasVersion(name, basev)) Set.empty
      else snapshotAt(name, basev).entries.map(_.rel).toSet
    clusterEntries(name, snap,
      snap.entries.filterNot(e => clustered(e.rel) && e.dvs.isEmpty), targetFiles)
  }

  /** OPTIMIZE … WHERE … ZORDER BY: re-cluster only the files the
    * predicate could touch (manifest stats pick the candidates) along the
    * persisted curve. `targetFiles` ≤ 0 keeps the candidate file count —
    * clustering re-ranges files, it doesn't consolidate them. */
  def zorderWhere(name: String, pred: Column, targetFiles: Int = 0): Unit = {
    val snap = snapshot(name)
    val candidates = pruneEntries(name, snap.schema, snap.entries, pred)
    clusterEntries(name, snap, candidates,
      if (targetFiles > 0) targetFiles else math.max(1, candidates.size))
  }

  /** OPTIMIZE … WHERE: compact only the files the predicate could touch
    * (manifest stats/partition pruning picks the candidates) — the
    * bounded maintenance form a 100 TB table runs routinely: cost scales
    * with the predicate's slice, never the table. Deletion vectors on
    * candidate files fold in; every other file carries over untouched. */
  def compactWhere(name: String, pred: Column, targetFiles: Int = 1): Unit = {
    val snap = snapshot(name)
    val candidates = pruneEntries(name, snap.schema, snap.entries, pred)
    if (candidates.size <= 1 && !candidates.exists(_.dvs.nonEmpty)) return
    val cset = candidates.map(_.rel).toSet
    rewriteCompacted(name, snap, candidates, snap.entries.filterNot(e => cset(e.rel)),
      targetFiles)
  }

  /** Commit `rewrite` (entries of `snap`) consolidated into one file per
    * partition value, or `targetFiles` files when unpartitioned, with
    * `carryOver` untouched: the shared tail of the bounded compactions. */
  private def rewriteCompacted(name: String, snap: Snapshot, rewrite: Seq[FileEntry],
      carryOver: Seq[FileEntry], targetFiles: Int): Unit = {
    val df0 = rewriteSource(name, snap, rewrite)
    val lpb = logicalNames(name, snap.layout.partitionBy)
    val df = if (lpb.nonEmpty) df0.repartition(lpb.map(col): _*)
             else df0.repartition(math.max(1, targetFiles))
    commitVersion(name, df, snap.layout, carryOver, schemaHint = Some(snap.schema),
      expectedBase = Some(Some(snap.version)), op = "optimize")
  }

  /** Bin-packing compaction: rewrite only the manifest entries that are
    * SMALL (under `smallBytes`) or carry deletion vectors, consolidating
    * them into one file per partition value (or one file total); every
    * already-well-sized file carries over untouched. This is the
    * scale-safe form of compaction a 100 TB table can run continuously —
    * the cost is the small-file backlog, never the table. No-op when
    * fewer than two entries qualify. */
  def compactSmall(name: String, smallBytes: Long = 32L << 20): Unit =
    compactSmallOf(name, snapshot(name), smallBytes, minFiles = 2)

  /** [[compactSmall]] of `snap`, run only when at least `minFiles`
    * entries qualify. */
  private def compactSmallOf(name: String, snap: Snapshot, smallBytes: Long,
      minFiles: Int): Unit = {
    val (small, big) = snap.entries.partition(e =>
      e.dvs.nonEmpty || Files.size(Paths.get(absPath(name, e.rel))) < smallBytes)
    if (small.size >= math.max(2, minFiles)) rewriteCompacted(name, snap, small, big, 1)
  }

  /** Enable auto-compaction: after any [[append]] leaves `smallFiles` or
    * more sub-`smallBytes` files in the manifest, a [[compactSmall]] runs
    * inline — the antidote to streaming-append small-file accumulation,
    * applied where it is produced. */
  def setAutoCompact(name: String, smallFiles: Int, smallBytes: Long = 32L << 20): Unit =
    setMeta(name, meta(name).copy(properties = meta(name).properties +
      ("auto_compact_files" -> smallFiles.toString) +
      ("auto_compact_bytes" -> smallBytes.toString)))

  private def maybeAutoCompact(name: String): Unit = {
    val props = meta(name).properties
    props.get("auto_compact_files").map(_.toInt).foreach { threshold =>
      compactSmallOf(name, snapshot(name),
        props.get("auto_compact_bytes").map(_.toLong).getOrElse(32L << 20), threshold)
    }
  }

  /** K1/K2/K3: overwrite-create a table from a DataFrame snapshot.
    * `partitionBy` clusters rows into per-value directories (manifest
    * metadata prunes them at read); `sortWithin` sorts rows inside each
    * task before writing so the per-file min/max stats on those columns
    * become selective — the data-skipping lever at 100 TB. Stats are
    * always collected for partition + sort columns; `statsFor` adds more. */
  def createOrReplace(name: String, df: DataFrame, partitionBy: Seq[String] = Nil,
      sortWithin: Seq[String] = Nil, statsFor: Seq[String] = Nil): Unit = {
    commitVersion(name, df, Layout(partitionBy, sortWithin, statsFor), carryOver = Seq.empty)
    // a REPLACE may swap in a schema that invalidates generated-column
    // declarations (the column or a dependency no longer exists) — drop
    // the stale ones AFTER the commit succeeded, never as a side effect
    // of write-plan building (an aborted write must not lose metadata).
    // Staleness is judged against the COMMITTED schema, not the input
    // frame: a replace that omits an always-derived column (the normal
    // generated-column usage — the write derives it) keeps its
    // declaration, because the committed schema carries the column.
    val committed = logicalizeSchema(name, snapshot(name).schema).fieldNames
    val stale = generatedColumns(name).filter { case (logical, sql) =>
      !committed.exists(_.equalsIgnoreCase(logical)) || {
        import org.apache.spark.sql.functions.expr
        val deps = org.apache.spark.sql.GraftShims.catalystExpr(expr(sql)).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.nameParts.last
        }
        !deps.forall(n => committed.exists(_.equalsIgnoreCase(n)))
      }
    }
    if (stale.nonEmpty)
      setMeta(name, meta(name).copy(properties = stale.keys.foldLeft(meta(name).properties) {
        (p, logical) => p - s"gencol.${physicalName(name, logical)}"
      }))
  }

  /** Schema enforcement for appends: explicit-schema reads would silently
    * NULL-fill a missing column and drop an extra one — a typo'd append
    * must error, not lose data (Delta's append schema check). Matching is
    * case-insensitive; columns are reordered and cast to target types. */
  private def alignedForAppend(name: String, schema: StructType, df: DataFrame): DataFrame = {
    // appended frames speak logical names — align against the visible view;
    // GENERATED columns may be omitted (the write derives them)
    val lschema = logicalizeSchema(name, schema)
    val gens = generatedColumns(name).keySet
    val missing = lschema.fieldNames.filterNot(c => df.columns.exists(_.equalsIgnoreCase(c)))
      .filterNot(c => gens.exists(_.equalsIgnoreCase(c)))
    val extra = df.columns.filterNot(c => lschema.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty && extra.isEmpty,
      s"append to $name: schema mismatch — missing ${missing.mkString(",")}; " +
        s"unexpected ${extra.mkString(",")}; target columns are ${lschema.fieldNames.mkString(",")}")
    df.select(lschema.fields.toSeq
      .filter(f => df.columns.exists(_.equalsIgnoreCase(f.name)))
      .map(f =>
        col(df.columns.find(_.equalsIgnoreCase(f.name)).get).cast(f.dataType).as(f.name)): _*)
  }

  /** Append `df` as new files — the current files carry over untouched
    * (layout preserved), so an append to a 100 TB table costs only the new
    * data's write. Committed with conflict detection. `op` surfaces in
    * DESCRIBE HISTORY; the streaming sink encodes its micro-batch id there
    * to make replays detectable ([[lastStreamBatch]]). */
  def append(name: String, df: DataFrame, op: String = "append",
      copyFiles: Seq[String] = Nil): Unit = {
    appendTo(name, snapshot(name), df, op, copyFiles)
    maybeAutoCompact(name)
  }

  /** [[append]]'s commit onto the snapshot the caller read; returns the
    * entries of the files it added. */
  private def appendTo(name: String, snap: Snapshot, df: DataFrame, op: String,
      copyFiles: Seq[String]): Seq[FileEntry] = {
    val (keyed, cleanup) = applyIdentity(name, df)
    try
      commitVersion(name, alignedForAppend(name, snap.schema, keyed), snap.layout,
        carryOver = snap.entries, schemaHint = Some(snap.schema),
        expectedBase = Some(Some(snap.version)), op = op, copyFiles = copyFiles)
    finally cleanup()
  }

  /** K4+: `COPY INTO` — idempotent, file-tracked bulk ingestion
    * (Databricks' loading primitive for landing zones). Lists the files
    * under `from` (driver-side metadata walk — the 100 TB cost is the
    * listing, never a re-read), diffs against the table's loaded-file
    * ledger, reads ONLY the new files and appends them in one
    * schema-enforced commit. Re-running the same COPY is a no-op; a new
    * file in the directory loads alone. The ledger rides the commit: the
    * staged version directory carries a `copy_files` list promoted
    * atomically with the manifest (a crashed copy can never mark files
    * loaded without their rows being durable, nor vice versa), and
    * [[vacuum]] folds retiring ledgers into the `_COPY_LOADED` sidecar —
    * the same two-tier persistence the streaming exactly-once gate uses.
    *
    * @return (files loaded, rows loaded) */
  def copyInto(name: String, from: String, format: String = "parquet",
      pattern: Option[String] = None, force: Boolean = false): (Long, Long) = {
    val snap = snapshot(name)
    val fromPath = Paths.get(from).toAbsolutePath.normalize
    require(Files.exists(fromPath), s"COPY INTO $name: source $from not found")
    val ext = format.toLowerCase match {
      case f @ ("parquet" | "csv" | "json") => "." + f
      case other => throw new IllegalArgumentException(
        s"COPY INTO $name: unsupported FILEFORMAT $other (parquet, csv, json)")
    }
    val candidates: Seq[String] =
      if (Files.isRegularFile(fromPath)) Seq(fromPath.toString)
      else {
        val matcher = pattern.map(p =>
          java.nio.file.FileSystems.getDefault.getPathMatcher("glob:" + p))
        walkAll(fromPath).iterator
          .filter(Files.isRegularFile(_))
          .filter(_.getFileName.toString.toLowerCase.endsWith(ext))
          .filter(p => matcher.forall(_.matches(fromPath.relativize(p))))
          .map(_.toString).toSeq.sorted
      }
    val fresh =
      if (force) candidates
      else { val done = loadedCopyFiles(name); candidates.filterNot(done) }
    if (fresh.isEmpty) return (0L, 0L)
    val visible = logicalizeSchema(name, snap.schema)
    val df = format.toLowerCase match {
      case "parquet" => spark.read.parquet(fresh: _*)
      // text formats can't self-describe types — the table's schema rules
      case "csv" => spark.read.option("header", "true").schema(visible).csv(fresh: _*)
      case "json" => spark.read.schema(visible).json(fresh: _*)
    }
    // rows loaded = the footer row counts of the files THIS copy's commit
    // staged — not a before/after sum over the manifest, which an entry
    // carrying the unknown sentinel (rows = -1), a rebase over a
    // concurrent append or the auto-compaction below would skew
    val added = appendTo(name, snap, df, s"copy_into:${fresh.size}", fresh)
    maybeAutoCompact(name)
    (fresh.size.toLong, if (added.exists(_.rows < 0)) -1L else added.map(_.rows).sum)
  }

  /** Every source file a committed COPY INTO has loaded: the folded
    * `_COPY_LOADED` sidecar plus the `copy_files` ledgers still riding
    * live version directories. */
  def loadedCopyFiles(name: String): Set[String] = {
    val sidecar = tableDir(name).resolve("_COPY_LOADED")
    val folded =
      if (Files.exists(sidecar)) Files.readAllLines(sidecar).asScala.toSet
      else Set.empty[String]
    folded ++ versions(name).flatMap { v =>
      val f = tableDir(name).resolve(s"v_$v").resolve("copy_files")
      if (Files.exists(f)) Files.readAllLines(f).asScala else Nil
    }
  }

  /** Highest micro-batch id a streaming append has committed to `name`
    * (encoded in manifest operation labels `stream_append:<id>`), or None
    * if no streaming append ever committed. The exactly-once gate:
    * a foreachBatch replay of batch ≤ this id is a duplicate delivery and
    * must be skipped — the commit it would redo is already durable.
    *
    * [[vacuum]] retires old manifests, so the marker is ALSO rolled into
    * the `_META` sidecar before retirement (stream_high_water) — the gate
    * is the max of both, and a replay arriving after a vacuum still sees
    * it. */
  def lastStreamBatch(name: String): Option[Long] =
    if (!exists(name)) None
    else streamHighWater(name, versions(name).map(opAt(name, _)))

  /** A committed version's operation label, read from its manifest's first
    * two lines ([[writeManifest]] writes `#schema`, then `#op`) without
    * parsing the schema or the file entries. */
  private def opAt(name: String, version: Int): String = {
    val in = Files.newBufferedReader(manifestPath(name, version), UTF_8)
    try {
      in.readLine()
      Option(in.readLine()).filter(_.startsWith("#op\t"))
        .fold("write")(l => dec(l.stripPrefix("#op\t")))
    } finally in.close()
  }

  /** [[lastStreamBatch]] over the given retained op labels. */
  private def streamHighWater(name: String, ops: Seq[String]): Option[Long] =
    (ops.collect { case op if op.startsWith("stream_append:") =>
      op.stripPrefix("stream_append:").toLong } ++
      meta(name).properties.get("stream_high_water").map(_.toLong)).maxOption

  /** SCD2-layout write: clusters the history by a derived `is_current`
    * flag so current-version readers skip every closed-version file via
    * manifest stats. */
  def createOrReplaceScd2(name: String, df: DataFrame): Unit =
    createOrReplace(name,
      df.withColumn("is_current", col(graft.operators.Scd.ValidTo).isNull),
      partitionBy = Seq("is_current"))

  // ----------------------------------------------------------------- reads

  /** Parquet scan of plain `entries` of `snap` through a
    * [[ManifestFileIndex]]: the MANIFEST schema is explicit (never
    * inferred), so files written before a metadata-only column addition
    * NULL-fill the new columns, and the index prunes files by manifest
    * stats against whatever filters the query pushes into the scan.
    * Physical column names. */
  private def scanManifest(name: String, snap: Snapshot, entries: Seq[FileEntry],
      props: Map[String, String]): DataFrame = {
    val ctx = skipContext(props, snap.schema, logical = false)
    val index = new ManifestFileIndex(tableDir(name), snap.version, entries.map(_.rel),
      pred => pruneWith(name, ctx, entries, pred).map(_.rel))
    org.apache.spark.sql.GraftShims.parquetScan(spark, index, snap.schema)
  }

  /** Scan `entries` with row identity: every row carries `__graft_file`
    * (absolute data-file path, URI spelling normalized) and `__graft_pos`
    * (row position within the file, from the parquet `_metadata` column),
    * with deletion vectors already applied. The identity pair is what DVs
    * address rows by — this scan backs both the DV read path and the
    * merge-on-read DML discovery pass. */
  private def scanWithPos(name: String, snap: Snapshot, entries: Seq[FileEntry]): DataFrame = {
    val props = meta(name).properties
    val scan0 = scanManifest(name, snap, entries, props)
      .withColumn("__graft_file",
        regexp_replace(col("_metadata.file_path"), "^file:/+", "/"))
      .withColumn("__graft_pos", col("_metadata.row_index"))
    // column mapping: expose logical names (the extra __graft_* identity
    // columns and any dropped-column bytes ride along untouched — DML
    // discovery filters by logical predicates over this scan)
    val scan1 = renamesOf(props).foldLeft(scan0) { case (d, (phys, logical)) =>
      if (d.columns.contains(phys)) d.withColumnRenamed(phys, logical) else d
    }
    val withDv = entries.filter(_.dvs.nonEmpty)
    if (withDv.isEmpty) scan1
    else {
      // DV rows resolved to this table's manifest-relative paths, then to
      // absolute via a driver-built (rel → abs) map, then anti-joined on
      // (file, pos). The DV side holds deleted positions only (the DML's
      // touched rows, not the table), so AQE broadcasts it when small.
      val relToAbs = withDv.map(e =>
        e.rel -> Paths.get(absPath(name, e.rel)).toAbsolutePath.normalize.toString)
      val dv = dvPositions(name, withDv)
        .join(spark.createDataFrame(relToAbs).toDF("__rel", "__abs"), "__rel")
        .select(col("__abs").as("__dv_file"), col("pos").as("__dv_pos"))
      scan1.join(dv,
        scan1("__graft_file") === dv("__dv_file") &&
          scan1("__graft_pos") === dv("__dv_pos"), "left_anti")
    }
  }

  /** The deleted positions the deletion vectors of `entries` record, as
    * (`__rel`: this table's manifest-relative path, `pos`). A DV names its
    * rows' files relative to the table directory that holds the DV — this
    * table's own, or, after a shallow clone, the source's (`../src/v_2/dv`
    * over `v_1/data/…`) — so each DV's `file` is matched against the
    * entries re-expressed relative to that directory. */
  private def dvPositions(name: String, entries: Seq[FileEntry]): DataFrame = {
    val here = tableDir(name).toAbsolutePath.normalize
    val top = Paths.get(root).toAbsolutePath.normalize
    def abs(rel: String) = here.resolve(rel).normalize
    // every table dir is <root>/<db>/<table>
    def owner(dv: String) = top.resolve(top.relativize(abs(dv)).subpath(0, 2))
    entries.flatMap(e => e.dvs.map(d => (owner(d), d, e.rel))).groupBy(_._1).toSeq
      .map { case (o, ds) =>
        val keys = ds.map { case (_, _, rel) => (o.relativize(abs(rel)).toString, rel) }.distinct
        spark.read.parquet(ds.map(d => abs(d._2).toString).distinct: _*)
          .join(spark.createDataFrame(keys).toDF("file", "__rel"), "file")
          .select(col("__rel"), col("pos"))
      }.reduce(_ unionByName _)
  }

  /** Read `entries` of `snap` as one DataFrame in the table's logical
    * (visible) names. Plain entries take the pruning [[scanManifest]];
    * entries carrying deletion vectors are read through [[scanWithPos]]
    * (row-position anti-join). */
  private def readEntries(name: String, snap: Snapshot, entries: Seq[FileEntry]): DataFrame = {
    val props = meta(name).properties
    val lschema = logicalizeWith(props, snap.schema)
    if (entries.isEmpty) emptyDf(lschema)
    else {
      val (withDv, plain) = entries.partition(_.dvs.nonEmpty)
      val parts = Seq(
        if (plain.isEmpty) None
        else Some(toLogical(props, snap.schema, scanManifest(name, snap, plain, props))),
        if (withDv.isEmpty) None
        else Some(scanWithPos(name, snap, withDv)
          .select(lschema.fieldNames.map(col).toSeq: _*))).flatten
      parts.reduce(_ unionByName _)
    }
  }

  /** The live version. Every scan of it skips files by manifest stats
    * against the filters the query pushes down ([[ManifestFileIndex]]),
    * so `read(name).filter(p)` and SQL lookups open only the files `p`
    * can touch. */
  def read(name: String): DataFrame = {
    val snap = snapshot(name)
    readEntries(name, snap, snap.entries)
  }

  /** The table as a STREAMING source (Delta's `spark.readStream.table`):
    * sugar over the `graft-table` DSv2 source — see
    * [[graft.sources.GraftTableSource]] for offset/admission semantics.
    * Options (`startingVersion`, `maxFilesPerTrigger`, `ignoreChanges`,
    * …) pass through. */
  def readStream(name: String, options: Map[String, String] = Map.empty): DataFrame = {
    snapshot(name) // raises on a missing table
    val r = spark.readStream.format("graft-table")
      .option("root", root).option("table", name)
    options.foreach { case (k, v) => r.option(k, v) }
    r.load()
  }

  /** `read(name).filter(pred)`: like every scan of a store table, files
    * whose manifest stats provably exclude `pred` are never opened. */
  def readWhere(name: String, pred: Column): DataFrame = read(name).filter(pred)

  /** Dynamic file pruning for a point-lookup join: a scan of `name`
    * bounded to the manifest files whose per-column [min, max] boxes admit
    * at least one row of `points` on `cols` — the scale move a per-batch
    * probe against a huge, clustered history table needs (Delta's dynamic
    * file pruning makes the same cut with a runtime filter). The stats
    * side is metadata-sized and BROADCAST; `points` is never collected, so
    * the probe batch can be arbitrarily large. Conservative: files with no
    * stats for some col, and non-numeric cols, prune nothing. Returns the
    * pruned scan plus (candidate files, manifest total) for observability.
    *
    * The box cut only bites when files carry narrow boxes — i.e. the
    * table is kept clustered on `cols` (OPTIMIZE/ZORDER maintenance),
    * exactly like merge-discovery pruning. For HASH-keyed probes (uniform
    * keys — every file's box spans the full range, so boxes never skip) a
    * SECOND stage runs when the probe is a single bloom-indexed column
    * ([[setBloomFilterIndex]]) and its distinct key set is driver-bounded:
    * each box survivor is kept only if its parquet-native bloom might
    * contain ≥1 probe key. Combined with append-by-novelty indexes (each
    * key lives in exactly one file) that keeps per-batch candidates FLAT
    * as history grows — the files actually holding the batch's keys, plus
    * bloom false positives. On a stats-blind or unclustered layout with no
    * bloom every file survives, which is correct, just not fast. */
  private[graft] def readPointPruned(name: String, points: DataFrame,
      cols: Seq[String]): (DataFrame, (Int, Int)) = {
    val snap = snapshot(name)
    val boxCand = boxPointCandidates(name, snap, points, cols)
    // blooms refine the box survivors UNCONDITIONALLY (not only when the
    // boxes pruned nothing): on a mixed layout — a few narrow-box files
    // among many full-range hash-key files — the box stage prunes a
    // handful and would otherwise skip the bloom stage entirely, scanning
    // nearly the whole index despite blooms that could keep candidates
    // flat. The stage is cheap by construction: footers are cached, keys
    // hash once per physical type, and the probe's distinct key set is
    // driver-capped inside bloomRefineSet (over-cap probes fall through
    // to the box result).
    val cand = bloomRefineSet(name, boxCand, points, cols)
    (readEntries(name, snap, cand), (cand.size, snap.entries.size))
  }

  /** [min, max]-box stage of [[readPointPruned]]: the manifest files
    * whose per-column boxes admit at least one probe row. */
  private def boxPointCandidates(name: String, snap: Snapshot,
      points: DataFrame, cols: Seq[String]): Seq[FileEntry] = {
    val entries = snap.entries
    val total = entries.size
    def full = entries
    // a small manifest has nothing worth the probe's extra jobs (a
    // distinct + a broadcast stats join + a collect): scan it. The cut
    // only matters at many-file scale, where it is a rounding error.
    if (total <= 8) return full
    val rn = renames(name)
    def statsOf(e: FileEntry): Map[String, ColStats] =
      if (rn.isEmpty) e.stats
      else e.stats.map { case (k, v) => (rn.getOrElse(k, k), v) }
    val lschema = logicalizeSchema(name, snap.schema)
    // numeric cols compare after a cast of the stat string; string cols
    // compare directly — Spark's string ordering is unsigned byte-wise,
    // the same order the footer stats were computed under (see cmp)
    val colTypes: Seq[(String, DataType)] = cols.flatMap(c =>
      lschema.find(_.name.equalsIgnoreCase(c)).map(f => (c, f.dataType)))
      .filter { case (_, dt) => numericKind(dt).isDefined }
    if (colTypes.isEmpty) return full
    // files lacking stats for any probe col are unconditional candidates
    val (blind, boxed) = entries.partition(e =>
      colTypes.exists { case (c, _) => !statsOf(e).contains(c) })
    if (boxed.size <= 1) return full
    // Futility check before spending any jobs: on an UNclustered layout
    // (e.g. an append-only history before its maintenance pass) the boxes
    // all span the full value range and the probe cannot skip anything.
    // Judge it from manifest metadata alone — sort boxes by min on the
    // leading probe col and count files overlapping their predecessor;
    // mostly-overlapping boxes → scan directly, probe nothing.
    val (c0, dt0) = colTypes.head
    val isNum = numericKind(dt0).contains(true)
    val sortedBoxes = boxed.map(e => statsOf(e)(c0))
      .sortWith((a, b) => cmp(a.min, b.min, isNum) < 0)
    val overlapping = sortedBoxes.sliding(2).count {
      case Seq(prev, next) => cmp(next.min, prev.max, isNum) < 0
      case _ => false
    }
    if (overlapping * 2 > boxed.size) return full
    val statsRows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(boxed.map { e =>
        val st = statsOf(e)
        org.apache.spark.sql.Row(e.rel,
          colTypes.map { case (c, _) => st(c).min },
          colTypes.map { case (c, _) => st(c).max })
      }: _*)
    val statsSchema = StructType(Seq(
      StructField("__rel", StringType),
      StructField("__mins", org.apache.spark.sql.types.ArrayType(StringType)),
      StructField("__maxs", org.apache.spark.sql.types.ArrayType(StringType))))
    val statsDf = spark.createDataFrame(statsRows, statsSchema)
    val pts = points.select(colTypes.map { case (c, _) => col(c) }: _*)
      .na.drop("any", colTypes.map(_._1)).distinct()
    val cond = colTypes.zipWithIndex.map { case ((c, dt), i) =>
      val (mn, mx) = (element_at(col("__mins"), i + 1),
        element_at(col("__maxs"), i + 1))
      if (dt == StringType) pts(c) >= mn && pts(c) <= mx
      else pts(c) >= mn.cast(dt) && pts(c) <= mx.cast(dt)
    }.reduce(_ && _)
    val hit = pts.join(broadcast(statsDf), cond)
      .select(col("__rel")).distinct()
      .collect().map(_.getString(0)).toSet
    blind ++ boxed.filter(e => hit(e.rel))
  }

  /** Driver-side cap on the distinct probe-key set the bloom stage will
    * collect: past it the stage declines (keeps the box candidates). Keys
    * hash ONCE (per physical type) and then each file costs at most
    * |keys| bitset lookups of its cached bloom (~tens of ns each, early
    * exit on the first hit) — bounded by the BATCH, never the table. */
  private val BloomProbeCap = 1 << 20

  /** Bloom stage of [[readPointPruned]]: when some probe column carries a
    * bloom index, keep only the candidates whose parquet bloom might
    * contain at least one probe key of that column — ignoring the other
    * probe columns is conservative (a kept file may still be irrelevant,
    * never the reverse). Missing blooms, over-cap probes, non-indexed
    * probes and unreconstructable values all keep every candidate,
    * exactly like [[bloomRefine]]. */
  private def bloomRefineSet(name: String, cand: Seq[FileEntry],
      points: DataFrame, cols: Seq[String]): Seq[FileEntry] = {
    if (cand.size <= 1) return cand
    val c = cols.find(c0 =>
      bloomIndexCols(name).exists(_.equalsIgnoreCase(c0)))
      .getOrElse(return cand)
    val keys = points.select(col(c).cast("string")).na.drop()
      .distinct().limit(BloomProbeCap + 1)
      .collect().map(_.getString(0))
    if (keys.length > BloomProbeCap) return cand
    val phys = { val rev = renames(name).map(_.swap); rev.getOrElse(c, c) }
    // the parquet block-split bloom hash is value-only (XxHash of the
    // plain encoding) — hash each key ONCE per physical-type signature
    // and reuse across every file/row group of that type
    val hashCache =
      scala.collection.mutable.Map.empty[String, Option[Array[Long]]]
    cand.filter { e =>
      fileBlooms(name, e.rel, phys) match {
        case None => true // no bloom → cannot exclude
        case Some(per) => per.exists { case (prim, bf) =>
          hashCache.getOrElseUpdate(prim.toString, {
            val hs = keys.map(k => bloomHash(prim, bf, k))
            if (hs.exists(_.isEmpty)) None else Some(hs.flatten)
          }) match {
            case None => true
            case Some(hs) => hs.exists(bf.findHash)
          }
        }
      }
    }
  }

  /** Time travel: read a specific retained snapshot version. */
  def readVersion(name: String, version: Int): DataFrame = {
    val snap = snapshotAt(name, version)
    readEntries(name, snap, snap.entries)
  }

  /** Read a transaction-STAGED (not yet committed) version: the staged
    * manifest's files, invisible to every ordinary reader until the
    * transaction publishes. The read-your-writes primitive behind
    * [[Txn.readStaged]]. */
  private[tables] def readStagedVersion(name: String, version: Int): DataFrame = {
    val snap = stagedSnapshot(name, version)
    readEntries(name, snap, snap.entries)
  }

  /** Row-level change feed between two retained versions (Delta CDF
    * shape): `_change_type` = `insert` for rows present in `toVersion` but
    * not `fromVersion`, `delete` for the reverse; an UPDATE therefore
    * appears as its delete+insert pair. Computed from the MANIFEST DIFF:
    * files shared by both versions cancel out and are never opened, so the
    * cost scales with the data the intervening DML actually rewrote — on a
    * 100 TB table with file-pruned copy-on-write that is the changed
    * files, not the table. Duplicate rows diff by multiplicity
    * (exceptAll). */
  def changesBetween(name: String, fromVersion: Int, toVersion: Int): DataFrame = {
    val (sa, sb) = (snapshotAt(name, fromVersion), snapshotAt(name, toVersion))
    require(sa.schema.fieldNames.sameElements(sb.schema.fieldNames),
      s"$name: schema changed between v$fromVersion and v$toVersion — " +
        "diff the versions on their common columns explicitly")
    // entry identity includes the deletion-vector set: a file whose DVs
    // changed between versions contributes its row-level delta (the file
    // is re-read on both sides and the unchanged rows cancel in exceptAll)
    val aKeys = sa.entries.map(e => (e.rel, e.dvs)).toSet
    val bKeys = sb.entries.map(e => (e.rel, e.dvs)).toSet
    val onlyA = readEntries(name, sa, sa.entries.filterNot(e => bKeys((e.rel, e.dvs))))
    val onlyB = readEntries(name, sb, sb.entries.filterNot(e => aKeys((e.rel, e.dvs))))
    import org.apache.spark.sql.functions.lit
    onlyB.exceptAll(onlyA).withColumn("_change_type", lit("insert"))
      .unionByName(onlyA.exceptAll(onlyB).withColumn("_change_type", lit("delete")))
  }

  /** Row-level change feed over (`fromVersion`, `toVersion`] — Delta's
    * `table_changes`: every row carries `_change_type` ∈ insert / delete /
    * update_preimage / update_postimage and `_commit_version`.
    *
    * Per version, cheapest-first:
    *  - a recorded `cdc/` sidecar (written by UPDATE/DELETE/MERGE when
    *    [[enableChangeFeed]] is on) is read as-is — update images exact;
    *  - layout-only commits (OPTIMIZE/ZORDER/VACUUM/clone/restore and
    *    metadata-only DDL) emit nothing;
    *  - append-only commits reconstruct `insert` rows from the files the
    *    manifest diff says were added — no sidecar was ever written;
    *  - a full overwrite emits the old snapshot as `delete` + the new as
    *    `insert`;
    *  - anything else (a rewriting DML from before the feed was enabled)
    *    raises: the per-row change information was never captured.
    *
    * Everything here is manifest arithmetic + file-pruned reads; no step
    * diffs data with a shuffle, so a feed over a 100 TB table costs the
    * changed rows. */
  def changeFeed(name: String, fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion,
      s"$name changeFeed: fromVersion $fromVersion > toVersion $toVersion")
    // RESTORE is deliberately NOT here: it changes table CONTENT (the
    // restored snapshot's rows replace the current ones), so it must emit
    // a delta — a feed consumer that saw nothing would silently diverge
    val layoutOnly = Set("optimize", "zorder", "vacuum", "clone",
      "rename_column", "drop_column", "add_columns", "alter", "create")
    // iterate COMMITTED versions only: numbers are monotone in commit
    // order but not contiguous (a rebased commit vacates the number it
    // staged under — see tryRebase), so each version diffs against its
    // predecessor in the committed sequence, not v-1 numerically.
    // A RETIRED number inside the window is different from those benign
    // holes: it was a committed version whose cdc sidecar and manifest a
    // vacuum destroyed — its row-level changes are unrecoverable, and
    // silently omitting them would hand a consumer (an MV refresh, a
    // downstream sync) a delta that no longer reconstructs the table
    val retired = retiredVersions(name)
    (fromVersion + 1 to toVersion).find(retired.contains).foreach(v =>
      throw new IllegalStateException(
        s"$name: changeFeed($fromVersion, $toVersion] includes version $v, " +
          "which has been vacuumed — its changes cannot be replayed; start " +
          "the feed at a retained version or rebuild the consumer"))
    val all = versions(name)
    // each manifest is parsed at most once: a version's snapshot also
    // serves as the next version's predecessor, and a version with a
    // change-feed sidecar needs none
    val parsed = scala.collection.mutable.Map.empty[Int, Snapshot]
    def at(v: Int): Snapshot = parsed.getOrElseUpdate(v, snapshotAt(name, v))
    val frames = all.filter(v => v > fromVersion && v <= toVersion).map { v =>
      val cdcPath = cdcDir(name, v)
      val prevOpt = all.filter(_ < v).maxOption
      def vcol(df: DataFrame) = df.withColumn("_commit_version", lit(v))
      lazy val cur = at(v)
      lazy val op = cur.op
      if (Files.exists(cdcPath)) {
        // sidecars store the logical names in force at write time
        Some(vcol(spark.read.parquet(cdcPath.toString)))
      } else if (layoutOnly.exists(op.startsWith)) None
      else if (prevOpt.isEmpty) {
        if (v == 1) // table creation: everything is an insert
          Some(vcol(readEntries(name, cur, cur.entries)
            .withColumn("_change_type", lit("insert"))))
        else throw new IllegalStateException(
          s"$name: version $v's predecessor was vacuumed — its changes " +
            "cannot be reconstructed; start the feed at a retained version")
      } else {
        val prev = at(prevOpt.get)
        val prevKeys = prev.entries.map(e => (e.rel, e.dvs)).toSet
        val curKeys = cur.entries.map(e => (e.rel, e.dvs)).toSet
        val added = cur.entries.filterNot(e => prevKeys((e.rel, e.dvs)))
        val removed = prev.entries.filterNot(e => curKeys((e.rel, e.dvs)))
        if (removed.isEmpty)
          Some(vcol(readEntries(name, cur, added)
            .withColumn("_change_type", lit("insert"))))
        else if (((op == "write" || op == "txn_write") &&
              added.size == cur.entries.size && removed.size == prev.entries.size) ||
            op == "restore") {
          // full overwrite (direct or transactional): old snapshot deleted,
          // new snapshot inserted. RESTORE reconstructs the same way from
          // its manifest diff — files shared with the predecessor cancel
          // (their rows are unchanged), removed files' rows emit as
          // deletes and re-added files' rows as inserts; a row an
          // intermediate OPTIMIZE moved between files emits as a
          // delete+insert pair, which nets to zero under the multiset
          // semantics every feed consumer (MV refresh included) applies
          Some(vcol(readEntries(name, prev, removed)
            .withColumn("_change_type", lit("delete"))
            .unionByName(readEntries(name, cur, added)
              .withColumn("_change_type", lit("insert")), allowMissingColumns = true)))
        } else throw new IllegalStateException(
          s"$name version $v (op $op) rewrote files but recorded no change data — " +
            "run enableChangeFeed before the DML whose changes you need")
      }
    }
    frames.flatten
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        val live = version(name).fold(snapshot(name))(at)
        emptyDf(logicalizeSchema(name, live.schema)
          .add("_change_type", StringType).add("_commit_version", IntegerType))
      }
  }

  /** CURRENT snapshot inventory, stats-pruned by `pred` when given — the
    * DSv2 batch scan's planning surface: only files whose min/max ranges
    * could satisfy the pushed predicate are planned (same pruning the
    * store's own reads use). */
  private[graft] def prunedInventory(name: String, pred: Option[Column])
      : Seq[(String, Long, Boolean, Long)] = {
    val snap = snapshot(name)
    val kept = pred.map(p => pruneEntries(name, snap.schema, snap.entries, p))
      .getOrElse(snap.entries)
    kept.map { e =>
      val abs = absPath(name, e.rel)
      (abs, Files.size(Paths.get(abs)), e.dvs.nonEmpty, e.rows)
    }
  }

  /** The `cdc/` sidecar files of one committed version, if the version
    * recorded row-level changes: (absolutePath, byteSize) — the planning
    * surface for the DSv2 source's `changeFeed=true` mode. */
  private[graft] def cdcInventory(name: String, version: Int): Option[Seq[(String, Long)]] = {
    val dir = cdcDir(name, version)
    if (!Files.exists(dir)) None
    else Some(walkAll(dir).iterator
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(p => (p.toAbsolutePath.toString, Files.size(p))).toSeq.sortBy(_._1))
  }

  /** Committed snapshot inventory of one version: (schema, op label, files
    * as (absolutePath, byteSize, hasDeletionVectors)) — the driver-side
    * surface the DSv2 streaming source plans micro-batches from. Byte
    * sizes come from the filesystem at plan time (local metadata). */
  private[graft] def snapshotInventory(name: String, version: Int)
      : (StructType, String, Seq[(String, Long, Boolean)]) = {
    val snap = snapshotAt(name, version)
    val files = snap.entries.map { e =>
      val abs = absPath(name, e.rel)
      (abs, Files.size(Paths.get(abs)), e.dvs.nonEmpty)
    }
    (snap.schema, snap.op, files)
  }

  /** Commit history, newest first: (version, commit time, operation, file
    * count, row count) — the DESCRIBE HISTORY surface over the retained
    * manifests. Row counts come from the parquet footers recorded at write
    * time (`#rows` manifest lines); a snapshot holding files written
    * before row tracking, or files with deletion vectors attached (whose
    * live count differs from the physical count), reports -1 — unknown,
    * never wrong. */
  def history(name: String): Seq[(Int, java.time.Instant, String, Int, Long)] =
    versions(name).reverse.map { v =>
      val snap = snapshotAt(name, v)
      (v, commitTime(name, v), snap.op, snap.entries.size, rowsOf(snap.entries))
    }

  /** A committed version's commit time: its manifest's mtime, which
    * [[promoteManifest]] sets at commit. */
  private def commitTime(name: String, version: Int): java.time.Instant =
    Files.getLastModifiedTime(manifestPath(name, version)).toInstant

  /** Physical row count of `es`, -1 (unknown) when some file predates
    * footer row counts or carries deletion vectors (its live count is
    * below the physical one). */
  private def rowsOf(es: Seq[FileEntry]): Long =
    if (es.exists(e => e.rows < 0 || e.dvs.nonEmpty)) -1L else es.map(_.rows).sum

  /** Per-commit operation metrics (Delta's operationMetrics shape),
    * computed from the MANIFEST DIFF against the previous retained
    * version — driver-side metadata only, no file is opened. Returns
    * (files added, files removed, rows added, rows removed); row deltas
    * are -1 (unknown) when an involved file predates row tracking or
    * carries deletion vectors (physical counts would overstate). The
    * oldest retained version diffs against empty. */
  def operationMetrics(name: String, version: Int): (Int, Int, Long, Long) = {
    val vs = versions(name)
    require(vs.contains(version), s"$name: no retained version $version")
    val cur = snapshotAt(name, version).entries
    val prev = vs.filter(_ < version).maxOption
      .map(snapshotAt(name, _).entries).getOrElse(Nil)
    // entry identity includes the DV set — a DV-only commit shows as
    // remove+add of the same file (its live rows changed)
    val curKeys = cur.map(e => (e.rel, e.dvs)).toSet
    val prevKeys = prev.map(e => (e.rel, e.dvs)).toSet
    val added = cur.filterNot(e => prevKeys((e.rel, e.dvs)))
    val removed = prev.filterNot(e => curKeys((e.rel, e.dvs)))
    (added.size, removed.size, rowsOf(added), rowsOf(removed))
  }

  /** The latest version committed at or before `ts` (timestamp travel). */
  def versionAsOf(name: String, ts: java.time.Instant): Int = {
    val vs = versions(name)
    vs.reverse.find(v => !commitTime(name, v).isAfter(ts))
      .getOrElse(throw new IllegalArgumentException(
        s"$name TIMESTAMP AS OF $ts precedes the oldest retained commit " +
          s"(${vs.headOption.map(commitTime(name, _)).getOrElse("none")})"))
  }

  /** Metadata-only [[commit]] of `from` — the snapshot the commit derives
    * from, with its schema, entries and layout — labelled `op`: the
    * primitive behind [[restore]], the clones and the schema/metadata
    * DDL; no data moves. DDL passes the version it read as `base`, so it
    * rebases over a concurrent append instead of dropping it; without a
    * base (restore, clones) the commit replaces. */
  private def commitManifestOnly(name: String, from: Snapshot, op: String,
      base: Option[Int] = None): Unit =
    commit(name, base.map(Some(_))) { (next, _) =>
      writeManifest(name, from.copy(version = next, op = op)); true
    }

  /** Delta RESTORE: make `version`'s content — its files, schema and
    * write layout — the table's new CURRENT version, as a fresh commit
    * (history is preserved; the restore itself appears in it).
    * Metadata-only — the old manifest is re-pointed, no data is
    * rewritten. */
  def restore(name: String, version: Int): Unit =
    commitManifestOnly(name, snapshotAt(name, version), "restore")

  /** ALTER TABLE … ADD COLUMNS: **metadata-only** schema widening — the
    * new columns are appended to the manifest schema and every existing
    * file NULL-fills them at read time (explicit-schema scans). A column
    * addition on a 100 TB table commits in milliseconds and rewrites
    * nothing — Delta's schema-evolution model. */
  def addColumns(name: String, cols: StructType): Unit = {
    val snap = snapshot(name)
    // collide against BOTH name spaces: visible logical names and on-disk
    // physical names (incl. renamed/dropped columns still in old files)
    val taken = snap.schema.fieldNames ++ logicalizeSchema(name, snap.schema).fieldNames
    val dup = cols.fieldNames.filter(c => taken.exists(_.equalsIgnoreCase(c)))
    require(dup.isEmpty, s"$name ADD COLUMNS: column(s) already exist: ${dup.mkString(", ")}")
    commitManifestOnly(name, snap.copy(schema = StructType(snap.schema.fields ++ cols.fields)),
      "add_columns", Some(snap.version))
  }

  // ------------------------------------------- column mapping (rename/drop)
  //
  // Delta's column-mapping model, name-based: data files keep the column
  // name they were WRITTEN with (the "physical" name) forever; RENAME and
  // DROP are pure sidecar-metadata commits that change only the table's
  // visible ("logical") view. Internally every DataFrame — reads, DML
  // inputs, merge sources — speaks logical names; translation happens at
  // exactly two boundaries: data-file writes (all through
  // [[stageVersion]]) rename logical→physical, and parquet reads
  // ([[readEntries]]/[[scanWithPos]]) rename physical→logical. Manifests
  // (schema and layout) and per-file stats always store physical names.
  //
  // Name-based mapping (vs Delta's id-based) carries one restriction,
  // enforced by [[renameColumn]]: a new logical name may not collide with
  // any other visible name NOR any on-disk physical name — that keeps
  // both translation maps injective and makes translating an
  // already-physical name a safe no-op.

  /** physical → logical renames currently in force. */
  private def renames(name: String): Map[String, String] = renamesOf(meta(name).properties)

  private def renamesOf(props: Map[String, String]): Map[String, String] =
    props.collect {
      case (k, v) if k.startsWith("colmap.") => k.stripPrefix("colmap.") -> v
    }

  /** physical names of dropped columns (still present in old files). */
  private def droppedOf(props: Map[String, String]): Set[String] =
    props.keysIterator
      .filter(_.startsWith("coldrop.")).map(_.stripPrefix("coldrop.")).toSet

  /** Whether any RENAME mapping is in force. Drop-only mapped tables keep
    * every visible name equal to its physical name, so pushed filters
    * (which speak logical names) remain valid against the files — only
    * renames force the DSv2 scan to skip row-group filter pushdown. */
  private[graft] def hasRenames(name: String): Boolean = renames(name).nonEmpty

  /** The logical (visible) view of a physical manifest schema. */
  private[graft] def logicalizeSchema(name: String, physical: StructType): StructType =
    logicalizeWith(meta(name).properties, physical)

  private def logicalizeWith(props: Map[String, String], physical: StructType): StructType = {
    val rn = renamesOf(props); val dp = droppedOf(props)
    if (rn.isEmpty && dp.isEmpty) physical
    else StructType(physical.fields.toSeq.filterNot(f => dp(f.name))
      .map(f => f.copy(name = rn.getOrElse(f.name, f.name))))
  }

  /** Rename a logical schema's fields back to their physical names
    * (positions and types untouched) — what a file reader must ask the
    * parquet files for. */
  private[graft] def physicalizeSchema(name: String, logical: StructType): StructType = {
    val rev = renames(name).map(_.swap)
    if (rev.isEmpty) logical
    else StructType(logical.fields.toSeq.map(f => f.copy(name = rev.getOrElse(f.name, f.name))))
  }

  /** Project a physical-named frame to the logical view (drops dropped
    * columns, renames renamed ones). Field order follows the manifest. */
  private def toLogical(props: Map[String, String], schema: StructType,
      df: DataFrame): DataFrame = {
    val rn = renamesOf(props); val dp = droppedOf(props)
    if (rn.isEmpty && dp.isEmpty) df.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    else df.select(schema.fields.toSeq.filterNot(f => dp(f.name))
      .map(f => col(f.name).as(rn.getOrElse(f.name, f.name))): _*)
  }

  /** Rename a logical-named frame's columns to physical for writing;
    * names without a mapping entry (including genuinely new columns)
    * pass through. */
  private def toPhysicalDf(name: String, df: DataFrame): DataFrame = {
    val rev = renames(name).map(_.swap)
    if (rev.isEmpty) df
    else df.select(df.columns.toSeq.map(c => col(c).as(rev.getOrElse(c, c))): _*)
  }

  private def physicalName(name: String, logical: String): String = {
    val rev = renames(name).map(_.swap)
    rev.getOrElse(logical,
      rev.find(_._1.equalsIgnoreCase(logical)).map(_._2).getOrElse(logical))
  }

  /** Columns a rename/drop must not touch: CHECK constraint conditions and
    * the recorded primary key reference columns by bare text. */
  private def referencedInMeta(name: String, colName: String): Option[String] = {
    val word = java.util.regex.Pattern.compile(
      "(?i)\\b" + java.util.regex.Pattern.quote(colName) + "\\b")
    val pk = meta(name).properties.get("primary_key").toSeq
      .flatMap(_.split(',')).map(_.trim)
    if (pk.exists(_.equalsIgnoreCase(colName))) Some("primary key")
    else checkConstraints(name).collectFirst {
      case (cname, sql) if word.matcher(sql).find() => s"CHECK constraint $cname"
    }.orElse(generatedColumns(name).collectFirst {
      case (gcol, sql) if word.matcher(sql).find() =>
        s"generated column $gcol's expression"
    }).orElse(foreignKeys(name).collectFirst {
      case (cname, (cols, _, _)) if cols.exists(_.equalsIgnoreCase(colName)) =>
        s"FOREIGN KEY $cname"
    }).orElse(
      if (bloomIndexCols(name).exists(_.equalsIgnoreCase(colName)))
        Some("bloom filter index") else None)
  }

  /** ALTER TABLE … RENAME COLUMN — **metadata-only** (column mapping): no
    * file is rewritten at any scale; the rename is one sidecar write plus
    * a manifest-only commit for DESCRIBE HISTORY. */
  def renameColumn(name: String, from: String, to: String): Unit = {
    val snap = snapshot(name)
    val schema = snap.schema
    val visible = logicalizeSchema(name, schema)
    val field = visible.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
      throw new IllegalArgumentException(
        s"$name RENAME COLUMN: no column ${from} (columns: ${visible.fieldNames.mkString(", ")})"))
    val physical = physicalName(name, field.name)
    referencedInMeta(name, field.name).foreach(ref => throw new IllegalArgumentException(
      s"$name RENAME COLUMN $from: referenced by $ref — drop/re-add it around the rename"))
    require(!visible.fieldNames.exists(v => v.equalsIgnoreCase(to) && v != field.name),
      s"$name RENAME COLUMN: target name $to already exists")
    require(to.equalsIgnoreCase(physical) ||
      !schema.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"$name RENAME COLUMN: $to is the on-disk (physical) name of another column — " +
        "name-based column mapping cannot reuse physical names; pick a fresh name")
    val m = meta(name)
    val props =
      if (to == physical) m.properties - s"colmap.$physical"
      else m.properties + (s"colmap.$physical" -> to)
    val comments = m.columnComments.get(field.name) match {
      case Some(c) => m.columnComments - field.name + (to -> c)
      case None => m.columnComments
    }
    setMeta(name, m.copy(properties = props, columnComments = comments))
    commitManifestOnly(name, snap, "rename_column", Some(snap.version))
  }

  /** ALTER TABLE … DROP COLUMN — **metadata-only** (column mapping): old
    * files keep the column's bytes but no read ever selects it; new files
    * simply omit it. */
  def dropColumn(name: String, colName: String): Unit = {
    val snap = snapshot(name)
    val visible = logicalizeSchema(name, snap.schema)
    val field = visible.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
      throw new IllegalArgumentException(
        s"$name DROP COLUMN: no column $colName (columns: ${visible.fieldNames.mkString(", ")})"))
    require(visible.fields.length > 1, s"$name DROP COLUMN: cannot drop the only column")
    val physical = physicalName(name, field.name)
    referencedInMeta(name, field.name).foreach(ref => throw new IllegalArgumentException(
      s"$name DROP COLUMN $colName: referenced by $ref — drop it first"))
    require(!(snap.layout.partitionBy ++ snap.layout.sortWithin)
        .exists(_.equalsIgnoreCase(physical)),
      s"$name DROP COLUMN $colName: the table is partitioned/sorted by it — " +
        "rewrite the layout (createOrReplace) instead")
    val m = meta(name)
    // a generated column's declaration dies with the column — removed
    // HERE, in the DDL that invalidates it, not lazily during some later
    // write's plan building (which could lose it on an aborted write)
    setMeta(name, m.copy(
      properties = m.properties - s"colmap.$physical" - s"gencol.$physical" -
        s"notnull.$physical" - s"coldefault.$physical" +
        (s"coldrop.$physical" -> "1"),
      columnComments = m.columnComments - field.name))
    commitManifestOnly(name, snap, "drop_column", Some(snap.version))
  }

  // --------------------------------------------------------- generated columns

  /** Declare `colName` (an existing, usually just-added column) as
    * GENERATED ALWAYS AS (`exprSql`) — Delta's generated-column model with
    * one simplification, stated plainly: the value is ALWAYS derived.
    * Every write path (createOrReplace/append/UPDATE/MERGE/mor rewrite)
    * recomputes the expression over the row being written, whether or not
    * the incoming frame carried a value, so the column can never go stale
    * when a dependency changes (Delta recomputes on dependency-update and
    * errors on mismatched explicit inserts; always-derive subsumes both).
    * Files written BEFORE the declaration keep their stored values until
    * the next write touches them — backfill explicitly with
    * `UPDATE t SET c = <expr>` (file-pruned) or a rewrite. */
  def setGeneratedColumn(name: String, colName: String, exprSql: String): Unit = {
    val visible = logicalizeSchema(name, snapshot(name).schema)
    val field = visible.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
      throw new IllegalArgumentException(
        s"$name GENERATED COLUMN: no column $colName (columns: ${visible.fieldNames.mkString(", ")})"))
    val word = java.util.regex.Pattern.compile(
      "(?i)\\b" + java.util.regex.Pattern.quote(field.name) + "\\b")
    require(!word.matcher(exprSql).find(),
      s"$name GENERATED COLUMN $colName: expression must not reference the column itself")
    setMeta(name, meta(name).copy(properties =
      meta(name).properties + (s"gencol.${physicalName(name, field.name)}" -> exprSql)))
  }

  /** Generation expressions currently declared: logical column → SQL. */
  def generatedColumns(name: String): Map[String, String] = {
    val rn = renames(name)
    meta(name).properties.collect {
      case (k, v) if k.startsWith("gencol.") =>
        val phys = k.stripPrefix("gencol.")
        rn.getOrElse(phys, phys) -> v
    }
  }

  /** Recompute every generated column over a logical-named frame about to
    * be written; value type pins to the declared schema type. A frame
    * missing a generation dependency (e.g. a REPLACE that redefines the
    * schema away from the expression) drops the declaration instead of
    * failing the write — the new schema wins, like createOrReplace wins
    * over any other stale metadata. `schema` is the physical schema the
    * write commits under, when the caller already read it. */
  private def applyGeneratedColumns(name: String, df: DataFrame,
      schema: Option[StructType]): DataFrame = {
    val gens = generatedColumns(name)
    if (gens.isEmpty || (schema.isEmpty && !exists(name))) df
    else {
      val visible = logicalizeSchema(name, schema.getOrElse(snapshot(name).schema))
      gens.foldLeft(df) { case (d, (logical, sql)) =>
        val declared = visible.fields.find(_.name.equalsIgnoreCase(logical))
        import org.apache.spark.sql.functions.expr
        val deps = org.apache.spark.sql.GraftShims.catalystExpr(expr(sql)).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.nameParts.last
        }
        val depsPresent = deps.forall(n => d.columns.exists(_.equalsIgnoreCase(n)))
        declared match {
          case Some(f) if depsPresent => d.withColumn(f.name, expr(sql).cast(f.dataType))
          // dangling declaration (shouldn't happen: dropColumn removes the
          // declaration with the column, and dependency drops/renames are
          // refused) — skip WITHOUT mutating metadata: plan building must
          // be side-effect free, or an aborted write loses the declaration
          case _ => d
        }
      }
    }
  }

  // --------------------------------------------------------- identity columns

  /** Declare `colName` GENERATED ALWAYS AS IDENTITY (START WITH `start`
    * INCREMENT BY `step`) — the reference's dimension-key pattern
    * (01_Init.py:59). Appends must OMIT the column (ALWAYS semantics —
    * explicit values error, like Delta); keys are block-allocated per
    * partition from the sidecar's high-water counter (the zipWithIndex
    * shape: one lightweight count, no single-partition bottleneck),
    * unique and increasing across commits. Like Delta identity, row→key
    * assignment is not reproducible across reruns — use
    * [[graft.operators.SurrogateKeys.assignOrdered]] where exact
    * replayability matters. The counter advances with the commit; a
    * failed commit may burn a key range but never double-issues. */
  def setIdentity(name: String, colName: String, start: Long = 1L, step: Long = 1L): Unit = {
    require(step != 0, "identity step must be non-zero")
    val visible = logicalizeSchema(name, snapshot(name).schema)
    val field = visible.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
      throw new IllegalArgumentException(
        s"$name IDENTITY: no column $colName (columns: ${visible.fieldNames.mkString(", ")})"))
    require(field.dataType == org.apache.spark.sql.types.LongType,
      s"$name IDENTITY $colName: need BIGINT, got ${field.dataType.catalogString}")
    setMeta(name, meta(name).copy(properties = meta(name).properties +
      (s"identity.${physicalName(name, field.name)}" -> s"$start,$step,0")))
  }

  /** The identity declaration, if any: (logical col, start, step, issued). */
  def identityColumn(name: String): Option[(String, Long, Long, Long)] = {
    val rn = renames(name)
    meta(name).properties.collectFirst {
      case (k, v) if k.startsWith("identity.") =>
        val Array(start, step, issued) = v.split(',')
        (rn.getOrElse(k.stripPrefix("identity."), k.stripPrefix("identity.")),
          start.toLong, step.toLong, issued.toLong)
    }
  }

  /** Assign identity keys to an appended frame that omits the column.
    * Returns the keyed frame plus a cleanup to run once it is written.
    *
    * Concurrency + determinism: the input RDD is cached so the row set
    * that is COUNTED is the row set that is KEYED and written (a
    * nondeterministic source cannot diverge between the jobs), and the
    * high-water advance is a read-modify-write UNDER the table's commit
    * lock — concurrent appends serialize on the claim and receive
    * disjoint key blocks. A commit that subsequently fails burns its
    * claimed range (keys skip) but can never double-issue. */
  private def applyIdentity(name: String, df: DataFrame): (DataFrame, () => Unit) =
    identityColumn(name) match {
      case None => (df, () => ())
      case Some((colName, start, step, _)) =>
        require(!df.columns.exists(_.equalsIgnoreCase(colName)),
          s"$name: $colName is GENERATED ALWAYS AS IDENTITY — explicit values " +
            "are not accepted; omit the column")
        import org.apache.spark.sql.types.{LongType, StructField}
        val schema2 = df.schema.add(StructField(colName, LongType, nullable = false))
        val rdd = df.rdd.cache()
        // ONE counting pass (which also populates the cache) yields both
        // the total row count and the per-partition index offsets, so the
        // separate count() job that zipWithIndex would duplicate with its
        // internal offset job is gone: the append runs exactly two jobs —
        // this count pass and the keyed write reading from cache
        val partCounts = rdd.mapPartitions(
          it => Iterator.single(it.size.toLong), preservesPartitioning = true).collect()
        val n = partCounts.sum
        val offsets = partCounts.scanLeft(0L)(_ + _)
        val issued = withCommitLock(name) {
          // re-read under the lock: another append may have claimed since
          val cur = identityColumn(name).get._4
          setMeta(name, meta(name).copy(properties = meta(name).properties +
            (s"identity.${physicalName(name, colName)}" -> s"$start,$step,${cur + n}")))
          cur
        }
        val counted = rdd.mapPartitionsWithIndex { case (pi, it) =>
          var idx = offsets(pi)
          it.map { row =>
            val r = org.apache.spark.sql.Row.fromSeq(
              row.toSeq :+ (start + step * (issued + idx)))
            idx += 1
            r
          }
        }
        (spark.createDataFrame(counted, schema2), () => { rdd.unpersist(false); () })
    }

  /** Delta SHALLOW CLONE: create `dst` referencing `src`'s CURRENT files
    * by path — an instant, zero-copy fork. The clone's own DML rewrites
    * only what it touches (copy-on-write), never the source's files; a
    * later vacuum of the clone leaves files outside its directory alone. */
  def cloneTo(src: String, dst: String): Unit = {
    val snap = snapshot(src)
    require(!exists(dst), s"clone target $dst already exists")
    // re-anchor entries relative to the clone's table dir
    val srcDir = tableDir(src).toAbsolutePath.normalize
    val dstDir = tableDir(dst).toAbsolutePath.normalize
    Files.createDirectories(dstDir)
    def reanchor(rel: String) = dstDir.relativize(srcDir.resolve(rel).normalize).toString
    val reanchored = snap.entries.map(e => e.copy(rel = reanchor(e.rel), dvs = e.dvs.map(reanchor)))
    commitManifestOnly(dst, snap.copy(entries = reanchored), "clone")
    // table metadata travels with the clone — without the column-mapping
    // entries a clone of a renamed table would resurface physical names.
    // The streaming high-water marker does NOT: it certifies batches
    // committed to the SOURCE's sink, and inheriting it would make a new
    // sink on the clone silently skip those batch ids.
    val m = meta(src)
    setMeta(dst, m.copy(properties = m.properties - "stream_high_water"))
  }

  /** Delta DEEP CLONE: an independent physical copy of `src`'s CURRENT
    * snapshot — every data file and deletion vector is copied into the
    * clone's own directory, so a later VACUUM or DROP of the source
    * cannot break the clone (the documented trade [[cloneTo]] makes).
    * Cost is proportional to the snapshot's bytes, the same bill Delta's
    * DEEP CLONE pays; a failed copy cleans up and leaves no table.
    *
    * The copies land in the clone's first version slot, each under its
    * source-relative path (`v_<slot>/<rel>`; a shallow-cloned source's
    * `../` segments dropped), so the clone's history starts at version 1
    * and no source version directory is recreated beside it. A deletion
    * vector names its rows' files by manifest-relative path, so it is
    * rewritten with the moved paths rather than copied. */
  def deepCloneTo(src: String, dst: String): Unit = {
    val snap = snapshot(src)
    require(!exists(dst), s"clone target $dst already exists")
    val srcDir = tableDir(src).toAbsolutePath
    val dstDir = tableDir(dst).toAbsolutePath
    try {
      commit(dst) { (next, _) =>
        def moved(rel: String) = s"v_$next/" + rel.split('/').dropWhile(_ == "..").mkString("/")
        snap.entries.foreach { e =>
          val to = dstDir.resolve(moved(e.rel))
          Files.createDirectories(to.getParent)
          Files.copy(srcDir.resolve(e.rel), to)
        }
        val renamed = spark.createDataFrame(snap.entries.map(e => (e.rel, moved(e.rel))))
          .toDF("__rel", "__moved")
        snap.entries.flatMap(_.dvs).distinct.foreach { dv =>
          val of = snap.entries.filter(_.dvs.contains(dv)).map(_.copy(dvs = Seq(dv)))
          parquetWriter(dvPositions(src, of).join(renamed, "__rel")
            .select(col("__moved").as("file"), col("pos")))
            .parquet(dstDir.resolve(moved(dv)).toString)
        }
        writeManifest(dst, snap.copy(version = next, op = "deep_clone",
          entries = snap.entries.map(e => e.copy(rel = moved(e.rel), dvs = e.dvs.map(moved)))))
        true
      }
      val m = meta(src)
      setMeta(dst, m.copy(properties = m.properties - "stream_high_water"))
    } catch {
      case t: Throwable =>
        if (Files.exists(dstDir))
          walkAll(dstDir).sorted.reverse.foreach(Files.deleteIfExists(_))
        throw t
    }
  }

  /** Distinct partition value tuples of the current snapshot, rendered
    * Hive-style (`par=2`), derived from per-file stats — partition files
    * carry min == max for their partition columns, so this is a
    * metadata-only listing: no data file is opened. */
  def partitionValues(name: String): Seq[String] = {
    val snap = snapshot(name)
    val pbPhys = snap.layout.partitionBy
    require(pbPhys.nonEmpty, s"SHOW PARTITIONS $name: table is not partitioned")
    val pb = logicalNames(name, pbPhys)
    snap.entries.map { e =>
      pb.zip(pbPhys).map { case (lc, pc) =>
        s"$lc=${e.stats.get(pc).map(_.min).getOrElse("__HIVE_DEFAULT_PARTITION__")}"
      }.mkString("/")
    }.distinct.sorted
  }

  /** All retained snapshot versions (those whose manifest survives),
    * oldest first. */
  def versions(name: String): Seq[Int] = {
    val dir = tableDir(name)
    if (!Files.exists(dir)) Seq.empty
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      listDir(dir).foreach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("v_") && Files.exists(p.resolve("_MANIFEST")))
          out += n.stripPrefix("v_").toInt
      }
      out.sorted.toSeq
    }
  }

  /** Whether `v` is a COMMITTED version. Version numbers are monotone in
    * commit order but not contiguous: a rebased commit vacates the number
    * it originally staged under (see tryRebase), and vacuum retires old
    * ones — consumers walking history must skip the holes. */
  private[graft] def hasVersion(name: String, v: Int): Boolean =
    Files.exists(manifestPath(name, v))

  /** True when version `v` was a COMMITTED version that a vacuum has
    * since retired. Distinguishes real data loss from the benign
    * numbering holes rebases and aborted stages leave — a consumer
    * walking history must SKIP the latter but FAIL on the former.
    * Retirement is durable in two forms: the per-version `_retired_v_N`
    * marker written just before the manifest delete (crash-safe), and
    * the `_RETIRED` ledger each vacuum folds those markers into so the
    * directory listing stays O(live versions). */
  private[graft] def wasRetired(name: String, v: Int): Boolean =
    !hasVersion(name, v) && {
      val dir = tableDir(name)
      Files.exists(dir.resolve(s"_retired_v_$v")) || {
        val ledger = dir.resolve("_RETIRED")
        Files.exists(ledger) &&
          Files.readAllLines(ledger).asScala.exists(_.trim == v.toString)
      }
    }

  /** ALL retired versions of `name`, from one marker listing + one ledger
    * read — the set-membership form of [[wasRetired]] for callers that
    * would otherwise probe a RANGE of versions (the table-stream's
    * creation-commit check, changeFeed's window scan), each probe
    * re-reading the ledger file: O(v) full-file reads for a creation
    * commit at a high number. A version still holding its manifest is
    * excluded (the marker-written-but-delete-crashed window), matching
    * [[wasRetired]] exactly. */
  private[graft] def retiredVersions(name: String): Set[Int] = {
    val dir = tableDir(name)
    // numeric-suffix filter: a stray file matching the prefix (editor
    // temp, partial copy) must not hard-fail stream startup / changeFeed
    val markers = listDir(dir)
      .filter(_.getFileName.toString.startsWith("_retired_v_"))
      .map(_.getFileName.toString.stripPrefix("_retired_v_"))
      .filter(s => s.nonEmpty && s.forall(_.isDigit))
      .map(_.toInt)
    val ledger = dir.resolve("_RETIRED")
    val fromLedger =
      if (!Files.exists(ledger)) Seq.empty[Int]
      else Files.readAllLines(ledger).asScala.toSeq
        .map(_.trim).filter(_.nonEmpty).map(_.toInt)
    (markers ++ fromLedger).toSet.filterNot(hasVersion(name, _))
  }

  /** The committed version immediately before `v` in commit order. */
  private[graft] def prevVersion(name: String, v: Int): Option[Int] =
    versions(name).filter(_ < v).maxOption

  // ------------------------------------------------------- merge-on-read

  /** Set the table's DML execution mode:
    *
    *  - `cow` (default): DELETE/UPDATE rewrite the files containing
    *    matched rows (file-pruned copy-on-write) — best when DML is rare
    *    or touches a large fraction of its files;
    *  - `mor` (merge-on-read): DELETE/UPDATE commit *deletion vectors* —
    *    parquet sidecars of deleted (file, row-position) pairs — and, for
    *    UPDATE, append the rewritten rows as new files. **No data file is
    *    rewritten**: a one-row DELETE on a 100 TB table writes a one-row
    *    sidecar (Delta's deletion-vector mode). Reads anti-join the DV
    *    rows by position; [[compact]] (OPTIMIZE) folds DVs back into
    *    clean files.
    */
  def setDmlMode(name: String, mode: String): Unit = {
    TableStore.checkKnob(name, "dml_mode", mode)
    setMeta(name, meta(name).copy(properties =
      meta(name).properties + ("dml_mode" -> mode)))
  }

  private def dmlMode(name: String): String =
    meta(name).properties.getOrElse("dml_mode", "cow")

  // ------------------------------------------------------------ row tracking

  private def rowTrackingEnabled(name: String): Boolean =
    meta(name).properties.get("rowtracking").contains("true")

  private def rowHighWater(name: String): Long =
    meta(name).properties.get("row_high_water").map(_.toLong).getOrElse(0L)

  /** Delta row tracking: give every row a STABLE id that survives
    * copy-on-write rewrites, deletion-vector deletes, OPTIMIZE and MERGE.
    * Fresh files own the id range [base, base + rows) recorded in the
    * manifest (claimed under the commit lock at promote time); a rewrite
    * reads each surviving row's current id and stores it physically in a
    * hidden parquet column the manifest schema never lists — plain reads
    * are untouched, [[readWithRowIds]] exposes `_row_id` as
    * coalesce(materialized, base + position). Enabling backfills the
    * current snapshot with one metadata-only commit. */
  def enableRowTracking(name: String): Unit = {
    if (rowTrackingEnabled(name)) return
    val snap = snapshot(name)
    require(snap.entries.forall(_.rows >= 0),
      s"enable row tracking on $name: some files predate footer row counts — " +
        "run OPTIMIZE first")
    setMeta(name, meta(name).copy(properties =
      meta(name).properties + ("rowtracking" -> "true")))
    commitManifestOnly(name, snap, "enable_row_tracking", Some(snap.version))
  }

  /** The table with a stable `_row_id` column. Requires
    * [[enableRowTracking]]. */
  def readWithRowIds(name: String): DataFrame = {
    require(rowTrackingEnabled(name), s"$name: row tracking is not enabled")
    val snap = snapshot(name)
    rowIdRead(name, snap, snap.entries, "_row_id")
  }

  /** Read `entries` for a REWRITE: like [[readEntries]], but when the
    * table tracks row ids the frame additionally carries the hidden
    * materialized-id column, so the rewrite's output files preserve each
    * surviving row's id physically. */
  private def rewriteSource(name: String, snap: Snapshot, entries: Seq[FileEntry]): DataFrame =
    if (!rowTrackingEnabled(name)) readEntries(name, snap, entries)
    else rowIdRead(name, snap, entries, TableStore.RowIdCol)

  /** Logical view of `entries` plus `outCol` = each row's current id —
    * [[posScanWithIds]]' id column under the name the caller wants. Row
    * tracking must be on. */
  private def rowIdRead(name: String, snap: Snapshot, entries: Seq[FileEntry],
      outCol: String): DataFrame = {
    val lschema = logicalizeSchema(name, snap.schema)
    if (entries.isEmpty) emptyDf(lschema.add(outCol, LongType, nullable = true))
    else posScanWithIds(name, snap, entries)
      .select(lschema.fieldNames.toSeq.map(col) :+ col(TableStore.RowIdCol).as(outCol): _*)
  }

  /** Strip the hidden id column from frames that face users (change-feed
    * images) — it is write-path plumbing, not data. */
  private def dropRowIdCol(df: DataFrame): DataFrame = df.drop(TableStore.RowIdCol)

  /** Give brand-new rows a NULL materialized id alongside rewritten rows
    * that carry one, so the union writes one coherent file schema; the
    * NULL resolves to the new file's base + position at read time. */
  private def withNullRowId(name: String, df: DataFrame): DataFrame =
    if (!rowTrackingEnabled(name) || df.columns.contains(TableStore.RowIdCol)) df
    else df.withColumn(TableStore.RowIdCol, lit(null).cast(LongType))

  /** Enable the row-level change feed (Delta's
    * `delta.enableChangeDataFeed`): from the NEXT commit on, UPDATE /
    * DELETE / MERGE record their row-level changes — including
    * `update_preimage`/`update_postimage` pairs — as a `cdc/` parquet
    * sidecar inside the committed version directory, written while
    * staging so it is atomic with the commit. Appends and overwrites
    * don't pay the extra write: their change rows are reconstructed from
    * the manifest diff at read time, exactly like Delta. Read the feed
    * with [[changeFeed]] or stream it via the `graft-table` source's
    * `changeFeed=true` option. */
  def enableChangeFeed(name: String): Unit =
    setMeta(name, meta(name).copy(properties =
      meta(name).properties + ("cdf" -> "true")))

  private def cdfEnabled(name: String): Boolean =
    meta(name).properties.get("cdf").contains("true")

  private def cdcDir(name: String, version: Int): Path =
    tableDir(name).resolve(s"v_$version").resolve("cdc")

  /** [[scanWithPos]] over `entries` that, when row tracking is on, also
    * resolves each row's CURRENT id into the hidden column — the
    * materialized value when the file carries one, else the file's base +
    * in-file position; NULL only for files with no base (pre-tracking
    * files never backfilled). One scan — the base lookup is a broadcast
    * of the (file, base) manifest map. The scan every merge-on-read
    * rewrite reads (an appended post-image must preserve the row id it
    * replaces), and under [[rowIdRead]] every copy-on-write one. */
  private def posScanWithIds(name: String, snap: Snapshot, entries: Seq[FileEntry]): DataFrame = {
    val tracking = rowTrackingEnabled(name)
    val s0 = scanWithPos(name,
      if (!tracking) snap
      else snap.copy(schema = snap.schema.add(TableStore.RowIdCol, LongType, nullable = true)),
      entries)
    if (!tracking) s0
    else {
      val baseMap = spark.createDataFrame(entries.map(e =>
          (Paths.get(absPath(name, e.rel)).toAbsolutePath.normalize.toString, e.base)))
        .toDF("__base_file", "__base")
      s0.join(broadcast(baseMap),
          s0("__graft_file") === col("__base_file"), "left")
        .withColumn(TableStore.RowIdCol, coalesce(col(TableStore.RowIdCol),
          when(col("__base") >= 0, col("__base") + col("__graft_pos"))))
        .drop("__base_file", "__base")
    }
  }

  /** Merge-on-read DELETE (`set` = None) / UPDATE (`set` = Some):
    * discovery scans only stats-pruned candidate files, the matching rows'
    * (file, position) pairs are written as this version's deletion vector,
    * and UPDATE appends the rewritten rows as new files through
    * [[stageVersion]] (so they follow the table layout). Existing data
    * files are never modified or rewritten. */
  private def commitMorDml(name: String, snap: Snapshot, cond: Column,
      set: Option[Map[String, Column]], op: String): Unit = {
    val candidates = pruneEntries(name, snap.schema, snap.entries, cond)
    if (candidates.isEmpty) return
    commit(name, Some(Some(snap.version))) { (next, dir) =>
      val live = posScanWithIds(name, snap, candidates)
      val (touched, carry) = writeDv(name, next, candidates, snap.entries, live.filter(cond))
      touched.nonEmpty && { // no matching rows: nothing to commit
        val lschema = logicalizeSchema(name, snap.schema)
        // one projection so every SET expression sees the PRE-image row
        // (see the copy-on-write update path for the fold hazard)
        val pre = live.filter(cond)
        def postImage(s: Map[String, Column], extra: Seq[Column]) =
          pre.select(lschema.fields.toSeq.map { f =>
            s.get(f.name).map(_.cast(f.dataType).as(f.name)).getOrElse(pre(f.name))
          } ++ extra: _*)
        set match {
          case None => writeManifest(name, snap.copy(version = next, entries = carry, op = op))
          case Some(s) =>
            // post-images keep the row id of the row they replace
            val updated = postImage(s,
              if (rowTrackingEnabled(name)) Seq(pre(TableStore.RowIdCol)) else Nil)
            stageVersion(name, next, dir, updated, snap.layout, carry, Some(snap.schema), op)
        }
        // change feed: the DV'd rows are the pre-images; an update's
        // appended rewrite is the post-image set (deterministic re-derive
        // of the same `live.filter(cond)` rows the DV captured)
        if (cdfEnabled(name)) {
          val preImg = pre.select(lschema.fieldNames.map(col).toSeq: _*)
          val cdcDf = set match {
            case None => preImg.withColumn("_change_type", lit("delete"))
            case Some(s) =>
              preImg.withColumn("_change_type", lit("update_preimage"))
                .unionByName(postImage(s, Nil).withColumn("_change_type", lit("update_postimage")))
          }
          parquetWriter(cdcDf).parquet(dir.resolve("cdc").toString)
        }
        true
      }
    }
  }

  /** The deletion-vector step of mor UPDATE, DELETE and MERGE: `hits`
    * (rows of a [[scanWithPos]] over `cand` — `__graft_file`,
    * `__graft_pos` — to delete) are joined to manifest-relative paths and
    * written as version `next`'s `dv/`. The written DV is the discovery
    * result (one scan job); the touched-file set is then a cheap re-read
    * of it. Returns that set and `entries` with the DV tagged onto every
    * touched file; with no hit no DV is left behind. */
  private def writeDv(name: String, next: Int, cand: Seq[FileEntry],
      entries: Seq[FileEntry], hits: DataFrame): (Set[String], Seq[FileEntry]) = {
    val dvRel = s"v_$next/dv"
    val dvDir = tableDir(name).resolve(dvRel)
    val absToRel = cand.map(e =>
      Paths.get(absPath(name, e.rel)).toAbsolutePath.normalize.toString -> e.rel)
    parquetWriter(hits.join(spark.createDataFrame(absToRel).toDF("__abs", "__rel"),
        col("__graft_file") === col("__abs"), "inner")
      .select(col("__rel").as("file"), col("__graft_pos").as("pos")))
      .parquet(dvDir.toString)
    val touched = spark.read.parquet(dvDir.toString)
      .select(col("file")).distinct().collect().map(_.getString(0)).toSet
    if (touched.isEmpty) dropAbortedVersion(dvDir)
    (touched, entries.map(e => if (touched(e.rel)) e.copy(dvs = e.dvs :+ dvRel) else e))
  }

  // ------------------------------------------------------------ pruned DML

  /** Manifest-relative paths of the files containing rows that satisfy
    * `cond` — the copy-on-write discovery pass. Stats-pruned first, so a
    * selective predicate over a sorted/partitioned table scans only the
    * candidate files it could possibly touch. */
  private def touchedFiles(name: String, snap: Snapshot, cond: Column): Set[String] = {
    val candidates = pruneEntries(name, snap.schema, snap.entries, cond)
    if (candidates.isEmpty) Set.empty
    // scanWithPos (not readEntries + input_file_name): the DV-applied read
    // is a UNION of plain and anti-joined branches, where
    // input_file_name() is undefined — the scan's own __graft_file column
    // is the per-branch file identity
    else scanWithPos(name, snap, candidates)
      .filter(cond)
      .select(col("__graft_file")).distinct()
      .collect().map(r => relOf(name, r.getString(0))).toSet
  }

  /** Manifest entries that could possibly hold a target row matching some
    * source row on `keys` — stats-pruned by the source's per-key [min,
    * max] box, then per distinct key tuple when there are few. The key
    * stats come from `held`'s rows with no Spark job when the source is
    * held ([[HeldSource]]: Catalyst bounds it to 10,000 rows); any other
    * source pays one tiny aggregation, plus a limited distinct collect
    * when its approximate tuple count is small. Conservative: a file with
    * no stats for a key survives; `extraOn` conjuncts are ignored (they
    * can only shrink the true match set). So every target row equal on
    * keys to a source row lies in a returned file — the matched side's
    * discovery and the insert anti-join both read only these. Returns
    * None when the source has no non-null value for some key — no row
    * can possibly match, because `t.k = s.k` is never true against an
    * all-NULL side. */
  private def mergeCandidates(name: String, snap: Snapshot, source: DataFrame,
      held: Option[HeldSource], keys: Seq[String]): Option[Seq[FileEntry]] = {
    val (schema, entries) = (snap.schema, snap.entries)
    // a 1-2 file table has nothing worth pruning — skip the source-stats
    // jobs entirely (they cost more than the scan they would save)
    if (entries.size <= 2) return Some(entries)
    // a full-snapshot source has ~|table| tuples — collecting them would
    // be a wasted shuffle, so past this many only the box cuts
    val MaxTuples = 128
    val stats = KeyStats.of(source, held, keys, MaxTuples)
    if (stats.box.isEmpty) return None
    val boxed = pruneEntries(name, schema, entries, stats.box.get)
    if (boxed.size <= 2) return Some(boxed)
    // Refine: when the source has few distinct key tuples, prune per tuple.
    // A batch of scattered keys (updates at k=5,7 plus an insert at
    // k=10001) defeats a single [min, max] box — every band file falls
    // inside the global range — but not the per-tuple cut (Delta's dynamic
    // file pruning makes the same move with a runtime IN-filter). Each
    // tuple keeps only files whose stats admit it; the union of survivors
    // is the candidate set. Driver cost is bounded: ≤128 tuples × the
    // box-surviving entries, and an entry leaves `remaining` once kept.
    stats.tuples match {
      case None => Some(boxed)
      case Some(tuples) =>
        var remaining = boxed
        val keep = Seq.newBuilder[FileEntry]
        tuples.foreach { t =>
          if (remaining.nonEmpty) {
            val p = keys.zip(t).map { case (k, v) => col(k) === v }.reduce(_ && _)
            val hit = pruneEntries(name, schema, remaining, p)
            if (hit.nonEmpty) {
              keep ++= hit
              val rels = hit.map(_.rel).toSet
              remaining = remaining.filterNot(e => rels(e.rel))
            }
          }
        }
        Some(keep.result())
    }
  }

  /** K6: UPDATE … SET … WHERE. In `cow` mode (default) only files
    * containing matching rows are rewritten; everything else is carried
    * into the new manifest untouched. In `mor` mode ([[setDmlMode]]) the
    * matched positions are deletion-vectored and the rewritten rows
    * appended — no existing file is rewritten at all. */
  def update(name: String, cond: Column, set0: Map[String, Column]): Unit = {
    // SET keys must match the schema's spelling before the exact-string
    // projection lookups below (and in the mor path) — a cased identifier
    // (`SET ACCTBAL = 0` on column acctbal) otherwise silently left the
    // column untouched, and an unknown column silently no-opped instead
    // of erroring. Same r14 bug class as the INSERT column list.
    val snap = snapshot(name)
    val lschema = logicalizeSchema(name, snap.schema)
    val set = MergeInto.normalizeSet(
      lschema.fieldNames.toSeq, set0,
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean,
      s"UPDATE $name SET")
    if (dmlMode(name) == "mor") commitMorDml(name, snap, cond, Some(set), "update")
    else {
      val touched = touchedFiles(name, snap, cond)
      if (touched.isEmpty) return // no matching rows anywhere — nothing to commit
      val subset = rewriteSource(name, snap, snap.entries.filter(e => touched(e.rel)))
      // SQL UPDATE semantics: every SET expression (and the WHERE) sees
      // the PRE-image row, so all assignments evaluate in ONE projection.
      // A sequential withColumn fold would let a later SET (or the
      // re-evaluated cond) read an already-updated column — SET a=a+1,
      // b=a would assign the new a to b, and SET a=b, b=a couldn't swap.
      val updated = subset.select(subset.columns.toSeq.map { c =>
        set.get(c).map(v =>
            when(cond, v).otherwise(subset(c)).cast(lschema(c).dataType).as(c))
          .getOrElse(subset(c))
      }: _*)
      val cdc = if (!cdfEnabled(name)) None else {
        val pre = dropRowIdCol(subset.filter(cond))
        val post = pre.select(pre.columns.toSeq.map { c =>
          set.get(c).map(_.cast(lschema(c).dataType).as(c)).getOrElse(pre(c))
        }: _*)
        Some(pre.withColumn("_change_type", lit("update_preimage"))
          .unionByName(post.withColumn("_change_type", lit("update_postimage"))))
      }
      commitVersion(name, updated, snap.layout,
        carryOver = snap.entries.filterNot(e => touched(e.rel)), schemaHint = Some(snap.schema),
        expectedBase = Some(Some(snap.version)), op = "update", cdc = cdc)
    }
  }

  /** K6: DELETE FROM … WHERE — file-pruned copy-on-write, or a pure
    * deletion-vector commit in `mor` mode. */
  def delete(name: String, cond: Column): Unit = {
    val snap = snapshot(name)
    if (dmlMode(name) == "mor") commitMorDml(name, snap, cond, None, "delete")
    else {
      val touched = touchedFiles(name, snap, cond)
      if (touched.isEmpty) return
      val subset = rewriteSource(name, snap, snap.entries.filter(e => touched(e.rel)))
      val cdc = if (!cdfEnabled(name)) None
        else Some(dropRowIdCol(subset.filter(cond))
          .withColumn("_change_type", lit("delete")))
      commitVersion(name, subset.filter(!cond || cond.isNull), snap.layout,
        carryOver = snap.entries.filterNot(e => touched(e.rel)), schemaHint = Some(snap.schema),
        expectedBase = Some(Some(snap.version)), op = "delete", cdc = cdc)
    }
  }

  /** Delta's `replaceWhere` selective overwrite: in ONE atomic commit,
    * every row satisfying `cond` is deleted and `df` is inserted in its
    * place. Files with no matching rows carry over untouched — replacing
    * one day of a date-partitioned 100 TB table rewrites that day's files
    * only, and the discovery pass is stats-pruned so the rest of the table
    * is never even scanned. The reference's daily gold reloads
    * (`notebooks/24_ETL_Gold_Load.py` overwrite pattern) are this
    * statement shape: recompute a bounded slice, swap it in atomically.
    *
    * Incoming rows MUST satisfy `cond` (Delta's replaceWhere constraint):
    * a row outside the replaced region would survive the next replace of
    * its own region AND duplicate what lives there now — silent
    * corruption, so it errors here instead. */
  def overwriteWhere(name: String, df: DataFrame, cond: Column,
      op: String = "replace_where"): Unit =
    overwriteIn(name, snapshot(name), df, cond, op)

  /** [[overwriteWhere]] onto the snapshot the caller read. */
  private def overwriteIn(name: String, snap: Snapshot, df: DataFrame, cond: Column,
      op: String): Unit = {
    val (keyed, cleanup) = applyIdentity(name, df)
    try {
      val raw = alignedForAppend(name, snap.schema, keyed)
      // constraint enforcement rides the write plan itself (the CHECK
      // pattern, [[enforceChecks]]): a row where cond is not true (false
      // OR null) raises DURING the single write job — no separate
      // validation pass re-computing an expensive source, and the raise
      // aborts the staged version, leaving the table unchanged
      import org.apache.spark.sql.functions.{concat, raise_error, struct, to_json}
      val aligned = raw.filter(
        when(cond, lit(true)).otherwise(raise_error(concat(
          lit(s"replaceWhere on $name: incoming rows do not all satisfy the " +
            "predicate — every inserted row must belong to the replaced region; row: "),
          to_json(struct(raw.columns.toSeq.map(col): _*)))).cast("boolean")))
      val touched = touchedFiles(name, snap, cond)
      val subset = rewriteSource(name, snap, snap.entries.filter(e => touched(e.rel)))
      val cdc = if (!cdfEnabled(name)) None else
        Some(dropRowIdCol(subset.filter(cond))
          .withColumn("_change_type", lit("delete"))
          .unionByName(aligned.withColumn("_change_type", lit("insert"))))
      commitVersion(name,
        subset.filter(!cond || cond.isNull).unionByName(withNullRowId(name, aligned)),
        snap.layout, carryOver = snap.entries.filterNot(e => touched(e.rel)),
        schemaHint = Some(snap.schema), expectedBase = Some(Some(snap.version)), op = op,
        cdc = cdc)
    } finally cleanup()
  }

  /** LOGICAL names of the table's declared partition columns (empty when
    * unpartitioned) — the manifest's layout records physical names;
    * callers speak the visible view. */
  def partitionColumns(name: String): Seq[String] =
    logicalNames(name, snapshot(name).layout.partitionBy)

  /** Physical column names (a layout's) → the logical names in force. */
  private def logicalNames(name: String, physical: Seq[String]): Seq[String] = {
    val rn = renames(name)
    physical.map(p => rn.getOrElse(p, p))
  }

  /** Spark's dynamic partition overwrite (`INSERT OVERWRITE … PARTITION
    * (p)`) for store tables: replaces exactly the partitions present in
    * `df`; every other partition's files carry over untouched. The
    * distinct partition tuples are collected driver-side — bounded by the
    * number of partitions the batch touches, the same driver-side set
    * Spark's own dynamic overwrite computes — and lowered onto
    * [[overwriteWhere]] as a null-safe tuple disjunction, so stats
    * pruning confines the rewrite to those partitions' files. */
  def overwritePartitions(name: String, df: DataFrame,
      op: String = "overwrite_partitions"): Unit = {
    val snap = snapshot(name)
    val pb = logicalNames(name, snap.layout.partitionBy)
    require(pb.nonEmpty,
      s"overwritePartitions on $name: table is not partitioned — " +
        "use overwriteWhere or createOrReplace")
    val tuples = df.select(pb.map(col): _*).distinct().limit(4097).collect()
    if (tuples.isEmpty) return // Spark semantics: empty source replaces nothing
    require(tuples.length <= 4096,
      s"overwritePartitions on $name: batch spans >4096 partitions — " +
        "the per-partition predicate would dominate planning; use overwriteWhere")
    val cond = tuples.map(t => pb.zipWithIndex.map { case (c, i) =>
      col(c) <=> lit(t.get(i))
    }.reduce(_ && _)).reduce(_ || _)
    overwriteIn(name, snap, df, cond, op)
  }

  /** K5: MERGE INTO applied to a stored table — file-pruned copy-on-write:
    *
    *  - files holding MATCHED rows (semi-join on the full ON condition) are
    *    rewritten only when matched clauses exist;
    *  - files holding NOT-MATCHED-BY-SOURCE candidates are found by the
    *    clause conditions (target-only predicates); an unconditioned
    *    by-source clause touches everything, as it must;
    *  - INSERT rows come from a column-pruned key anti-join — never a
    *    rewrite — against the files a source row can match on keys (see
    *    [[mergeCandidates]]), and are simply appended as new files.
    *
    * An insert-only merge (the reference's SCD2 phase 2) therefore
    * rewrites ZERO existing files.
    *
    * `schemaEvolution` = Delta's MERGE WITH SCHEMA EVOLUTION: source
    * columns absent from the target are added to the manifest schema.
    * Because reads use the manifest schema explicitly, files written
    * before the widening NULL-fill the new columns at scan time — the
    * widening itself is **metadata-only**, and the merge still rewrites
    * only the files it actually touches.
    *
    * Returns the discovery reading (candidate files the discovery pass
    * scanned, total manifest files) — the observable of discovery
    * pruning; an insert-only merge scans no candidates. */
  def merge(
      name: String,
      source: DataFrame,
      keys: Seq[String],
      extraOn: Option[Column] = None,
      matched: Seq[MergeInto.MatchedAction] = Nil,
      notMatched: Seq[MergeInto.NotMatchedInsert] = Nil,
      notMatchedBySource: Seq[MergeInto.BySourceAction] = Nil,
      schemaEvolution: Boolean = false,
      op: String = "merge"): (Int, Int) =
    mergeInternal(name, source, keys, extraOn, matched, notMatched,
      notMatchedBySource, schemaEvolution, op, txn = None)

  // TableWriter: forwarders that keep this path's immediate-commit
  // semantics and ledger labels
  override def writeSnapshot(name: String, df: DataFrame, partitionBy: Seq[String],
      sortWithin: Seq[String], statsFor: Seq[String]): Unit =
    createOrReplace(name, df, partitionBy, sortWithin, statsFor)
  override def writeMerge(name: String, source: DataFrame, keys: Seq[String],
      extraOn: Option[Column], matched: Seq[MergeInto.MatchedAction],
      notMatched: Seq[MergeInto.NotMatchedInsert],
      notMatchedBySource: Seq[MergeInto.BySourceAction],
      schemaEvolution: Boolean): Unit =
    merge(name, source, keys, extraOn, matched, notMatched,
      notMatchedBySource, schemaEvolution)

  /** [[merge]] body; with `txn` set the rewritten version is STAGED into
    * the transaction (pointer untouched until its all-or-nothing commit)
    * instead of committed here — see [[Txn.merge]].
    *
    * Bounded sources run from driver-held rows: when Catalyst bounds the
    * source to [[HeldSource.MaxRows]] rows (a `VALUES` list, an SCD2
    * micro-batch, a `LIMIT`), it is collected ONCE — a local relation
    * needs no job — and the whole merge runs on a local relation of those
    * rows. The candidate cut's key stats then come from the held rows (no
    * source-stats jobs), and the discovery join, rewrite, inserts and
    * change feed all see one evaluation of the source, so a
    * nondeterministic bounded source updates exactly the rows that one
    * evaluation produced. The cap keeps the held rows a few MB; past it
    * the source is a bulk load and keeps the lazy path below. */
  private[tables] def mergeInternal(
      name: String,
      source0: DataFrame,
      keys0: Seq[String],
      extraOn: Option[Column],
      matched0: Seq[MergeInto.MatchedAction],
      notMatched0: Seq[MergeInto.NotMatchedInsert],
      notMatchedBySource0: Seq[MergeInto.BySourceAction],
      schemaEvolution: Boolean,
      op: String,
      txn: Option[Txn]): (Int, Int) = {
    val snap0 = snapshot(name)
    val (schema0, entries) = (snap0.schema, snap0.entries)
    val held = HeldSource(source0)
    val source = held.map(_.df).getOrElse(source0)
    // match source to target columns under the session's resolver (Spark
    // SQL resolution is case-insensitive unless spark.sql.caseSensitive) —
    // a source column differing only in case is the SAME column, not a
    // schema-evolution addition
    val csFlag = spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    val resolves: (String, String) => Boolean =
      if (csFlag) _ == _ else _.equalsIgnoreCase(_)
    val lnames = logicalizeSchema(name, schema0).fieldNames.toSeq
    val newCols =
      if (schemaEvolution)
        // a source column matching a VISIBLE (logical) name is the same
        // column; matching a physical name of a renamed/dropped column is
        // rejected by the same no-reuse rule renames follow
        source.schema.fields.toSeq
          .filterNot(f => lnames.exists(resolves(f.name, _)))
          .map { f =>
            require(!schema0.fieldNames.exists(resolves(f.name, _)),
              s"MERGE schema evolution: ${f.name} collides with the on-disk name of a " +
                "renamed or dropped column")
            f
          }
      else Seq.empty
    // reading with the WIDENED schema NULL-fills the new columns for every
    // existing file — no explicit widening projection, no rewrite
    val schema = StructType(schema0.fields ++ newCols)
    val snap = snap0.copy(schema = schema)
    // one clause plan in the table's spelling (SET/INSERT may assign the
    // evolved columns) serves discovery, the rewrite, the inserts, the
    // change feed and the mor commit
    val plan = MergeInto.plan(lnames, csFlag, keys0, extraOn, matched0, notMatched0,
      notMatchedBySource0, newCols.map(_.name), s"MERGE INTO $name")
    val keys = plan.keys
    // NOT Delta's merge-source materialization: persisting the source here
    // (MEMORY_AND_DISK, released in a finally) to save its 3-4 per-merge
    // re-evaluations (candidate stats agg, discovery join, rewrite ∪
    // insert branches) was A/B'd in r17 and DOUBLED the 30-query store
    // family (74.0→150.1 s warm interleaved, x118 recheck 11.3, x121 9.6):
    // per-merge cache registration + columnar materialization of deep
    // store-read plans costs far more than the recomputes it saves, and
    // every later query in the session pays cache-manager plan-matching
    // against the live entries. Callers whose batch source is genuinely
    // expensive persist it themselves around their ingest unit (x118's
    // bc/old, StreamingDrift's cnts do). The held source above differs on
    // each count: it registers nothing with the cache manager, it only
    // takes sources Catalyst bounds, and an unbounded source (every file
    // scan) pays no added job.
    // `mor` mode: clauses that modify existing rows commit deletion
    // vectors + appended post-images instead of rewriting files. An
    // insert-only merge stays on the shared path below — it is a pure
    // append in either mode.
    val mor = dmlMode(name) == "mor" && !plan.insertOnly
    require(!mor || txn.isEmpty,
      s"transactional MERGE into $name: mor-mode tables commit deletion " +
        "vectors in place and cannot stage — use copy-on-write (setDmlMode " +
        "'cow') for tables merged inside a transaction")

    // Discovery finds every file the merge could modify: files with
    // matched rows (when matched clauses exist) and files with by-source
    // candidates (when by-source clauses exist). The matched side is
    // stats-pruned by the source's per-key [min, max] (read off the held
    // rows, or one tiny source aggregation — the candidate cut Delta's
    // MERGE makes before its touched-file join) and then INNER-joined to
    // the source, so only
    // matched rows ever reach the discovery aggregation: the shuffle is
    // proportional to the source batch, never the target table. The
    // Delta-parity multiple-match check rides the same aggregation (any
    // target (file, pos) with >1 match) and is only needed when matched
    // clauses could modify an ambiguous row — merges without matched
    // clauses never modify a matched target row, so, like Delta, they do
    // not error on duplicate source keys. By-source candidates come from
    // a separate plain predicate scan (stats-pruned, no join); an
    // unconditioned by-source clause touches everything, as it must
    // (discovery still joins — "all unmatched rows" is not "all rows").
    val bsCond = plan.bySourceApplies
    // every file that can hold a target row equal on keys to a source row
    lazy val keyCand: Seq[FileEntry] =
      mergeCandidates(name, snap, source, held, keys).getOrElse(Nil)
    val cand: Seq[FileEntry] =
      if (plan.insertOnly) Nil // pure append
      else {
        val mCand: Seq[FileEntry] = if (plan.matched.isEmpty) Nil else keyCand
        val bsCand: Seq[FileEntry] =
          bsCond.map(c => pruneEntries(name, schema, entries, c)).getOrElse(Nil)
        (mCand ++ bsCand).groupBy(_.rel).map(_._2.head).toSeq
      }
    // The insert anti-join needs only the files a source row can match,
    // which are `keyCand`'s. Its stats are free for a held source and
    // already taken when matched clauses exist; otherwise (an unbounded
    // source of an insert-only or by-source merge) the column-pruned scan
    // of every file is cheaper than the source-stats jobs.
    val insertScan: Seq[FileEntry] =
      if (held.isDefined || plan.matched.nonEmpty) keyCand else entries
    val Layout(pb, sw, sf0) = snap.layout
    // ADAPTIVE merge-key stats: a merge whose keys carry no file stats
    // cannot prune its discovery scan — record the keys into the stats
    // layout so THIS commit's rewritten/inserted files (and every later
    // write, and an OPTIMIZE backfill) collect min/max for them. The
    // table tunes itself toward its own merge pattern, Delta's
    // "collect stats on filter columns" guidance made automatic.
    val layoutCols = (pb ++ sw ++ sf0).map(_.toLowerCase)
    val layout = Layout(pb, sw, sf0 ++ keys.filterNot(k =>
      layoutCols.contains(physicalName(name, k).toLowerCase)))
    if (mor) {
      commitMorMerge(name, source, plan, cand, insertScan, snap, layout, op)
      return (cand.size, entries.size)
    }
    val touched: Set[String] =
      if (cand.isEmpty) Set.empty
      else {
        // ONE join pass over the candidates decides which files the plan
        // modifies (a matched row some matched clause applies to, an
        // unmatched row the by-source clauses apply to) and rides the
        // multiple-match check (any (file, pos) with >1 match). The
        // shuffle is bounded by the candidate rows, never the table.
        val t = scanWithPos(name, snap, cand).alias("t")
        val s = source.withColumn("__graft_s", lit(true)).alias("s")
        val bsFlag = bsCond.getOrElse(lit(false))
        // Join type follows the clause shape: a by-source clause must see
        // UNmatched target rows (left_outer); a matched-only merge — the
        // common SCD upsert — needs only matched rows, so an inner join
        // bounds the discovery aggregation by the SOURCE batch even when
        // stats pruning couldn't cut the candidate set (e.g. the first
        // merge into a stats-blind layout). The __n === 0 branch below is
        // then vacuously dead, which is exactly right: no by-source
        // clause means unmatched rows never force a rewrite.
        val discoveryJoin = if (bsCond.isEmpty) "inner" else "left_outer"
        val perFile = t.join(s, plan.on, discoveryJoin)
          .groupBy(col("__graft_file"), col("__graft_pos"))
          .agg(count(col("__graft_s")).as("__n"),
            max(when(plan.matchedApplies, 1).otherwise(0)).as("__rw"),
            org.apache.spark.sql.functions.first(bsFlag).as("__bs"))
          .groupBy(col("__graft_file"))
          .agg(max(col("__n")).as("__mx"),
            max(when(col("__n") > 0 && col("__rw") === 1, 1)
              .when(col("__n") === 0 &&
                org.apache.spark.sql.functions.coalesce(col("__bs"), lit(false)), 1)
              .otherwise(0)).as("__rel"))
          .collect()
        if (plan.matched.nonEmpty && perFile.exists(_.getAs[Long]("__mx") > 1))
          throw plan.multipleMatches
        perFile.filter(_.getAs[Int]("__rel") == 1)
          .map(r => relOf(name, r.getString(0))).toSet
      }

    // row tracking: the rewrite subset carries the hidden id column, which
    // the plan passes through as an unset column, so an UPDATEd row keeps
    // its id and only the INSERT side mints fresh ones
    val subset = rewriteSource(name, snap, entries.filter(e => touched(e.rel)))
    val rewritten = plan.withoutInserts.merge(subset, source, failOnMultipleMatches = false)
    val inserts = withNullRowId(name,
      plan.insertedRows(readEntries(name, snap, insertScan), source))
    // change feed: target-side images from the SAME touched subset the
    // rewrite reads, plus the insert rows
    val cdc = if (!cdfEnabled(name)) None else {
      val ins = dropRowIdCol(inserts).withColumn("_change_type", lit("insert"))
      if (plan.insertOnly) Some(ins)
      else Some(plan.changeSet(dropRowIdCol(subset), source).unionByName(ins))
    }
    txn match {
      case None =>
        commitVersion(name, rewritten.unionByName(inserts), layout,
          carryOver = entries.filterNot(e => touched(e.rel)), schemaHint = Some(schema),
          expectedBase = Some(Some(snap.version)), op = op, cdc = cdc)
      case Some(t) =>
        // stage only: data + manifest + change feed land in the version
        // dir, the pointer moves at the transaction's commit (or never —
        // txnAbort drops the dir). Conflict detection is the transaction's
        // strict observed-version check; no single-table rebase.
        // record BEFORE the cdc write: if that write throws, the staged
        // dir is already in the transaction's ledger and txnAbort drops
        // it (stageVersion's own cleanup no longer covers this point).
        val out = rewritten.unionByName(inserts)
        val (v, dir) = allocateVersion(name)
        stageVersion(name, v, dir, out, layout,
          carryOver = entries.filterNot(e => touched(e.rel)),
          schemaHint = Some(schema), op = op)
        t.record(name, v, dir, Some(snap.version))
        cdc.foreach(parquetWriter(_).parquet(dir.resolve("cdc").toString))
    }
    (cand.size, entries.size)
  }

  /** K5 in `mor` mode ([[setDmlMode]]): MERGE INTO as a deletion-vector
    * commit. Rows the plan updates or deletes are deletion-vectored in
    * place; UPDATE post-images and INSERT rows are appended as new files
    * through [[stageVersion]], in the table's layout. **No existing data
    * file is rewritten**: a merge touching 0.1% of a 100 TB table's rows
    * commits a tiny DV sidecar plus the new rows, where copy-on-write
    * would rewrite every touched file — the Delta deletion-vector MERGE
    * trade (write cost ∝ changed rows, read cost deferred to the next
    * OPTIMIZE).
    *
    * Discovery runs over the same candidates as the copy-on-write path
    * (`cand`, and `insertScan` for the insert anti-join) in one pass: the per-row (file, pos, disposition) result
    * lands as a staged parquet whose re-read answers the multiple-match
    * check and feeds the shared deletion-vector step ([[writeDv]]) — one
    * scan job over candidates, never the table. Change feed, row tracking
    * (post-images keep their row ids) and OPTIMIZE's DV folding compose
    * exactly as for mor UPDATE/DELETE ([[commitMorDml]]). */
  private def commitMorMerge(
      name: String,
      source: DataFrame,
      plan: MergeInto.ClausePlan,
      cand: Seq[FileEntry],
      insertScan: Seq[FileEntry],
      snap: Snapshot,
      layout: Layout,
      op: String): Unit =
    commit(name, Some(Some(snap.version))) { (next, dir) =>
      val t = posScanWithIds(name, snap, cand).alias("t")
      val s = source.withColumn("__graft_s", lit(true)).alias("s")
      val isMatched = col("s.__graft_s").isNotNull
      val kind = plan.disposition(isMatched)
      val discoDir = dir.resolve("disco")
      val (touched, carry) = if (cand.isEmpty) (Set.empty[String], snap.entries) else {
        // per-row match count (multiple-match check) + disposition; only
        // rows the merge modifies (or that prove ambiguity) are kept, so
        // the dump is change-set sized
        parquetWriter(t.join(s, plan.on, "left_outer")
          .groupBy(col("__graft_file"), col("__graft_pos"))
          .agg(count(col("s.__graft_s")).as("__n"), max(kind).as("__kind"))
          .filter(col("__kind").isNotNull || col("__n") > 1))
          .parquet(discoDir.toString)
        val d = spark.read.parquet(discoDir.toString)
        if (plan.matched.nonEmpty && d.filter(col("__n") > 1).limit(1).count() > 0)
          throw plan.multipleMatches
        writeDv(name, next, cand, snap.entries, d.filter(col("__kind").isNotNull))
      }

      // appended rows: UPDATE post-images (deterministic re-derive of the
      // DV'd rows, keeping their row ids) + the INSERT anti-join
      val lschema = logicalizeSchema(name, snap.schema)
      val updates: Option[DataFrame] =
        if (touched.isEmpty) None
        else Some(t.join(s, plan.on, "left_outer").filter(kind === "u").select(
          lschema.fields.toSeq.map(f =>
            plan.postImage(f.name, isMatched).cast(f.dataType).as(f.name)) ++
            (if (rowTrackingEnabled(name))
              Seq(col(s"t.${TableStore.RowIdCol}").as(TableStore.RowIdCol))
            else Nil): _*))
      val inserts = withNullRowId(name,
        plan.insertedRows(readEntries(name, snap, insertScan), source))
      val toAppend = updates.map(_.unionByName(inserts)).getOrElse(inserts)

      // the discovery dump served commit-time checks only — drop it so the
      // committed version dir holds exactly what the manifest references
      dropAbortedVersion(discoDir)
      val appended = stageVersion(name, next, dir, toAppend, layout, carry,
        Some(snap.schema), op)
      (touched.nonEmpty || appended.nonEmpty) && {
        if (cdfEnabled(name)) {
          val ins = dropRowIdCol(inserts).withColumn("_change_type", lit("insert"))
          val cdcDf =
            if (cand.isEmpty) ins
            else plan.changeSet(readEntries(name, snap, cand), source).unionByName(ins)
          parquetWriter(cdcDf).parquet(dir.resolve("cdc").toString)
        }
        true
      }
    }

  // ---------------------------------------------------------- transactions

  /** Multi-table transaction: every write staged inside `f` becomes
    * visible together, or not at all.
    *
    *  - All data/manifest writes happen while staging, with no pointer
    *    moved — a failure anywhere (including a mid-transaction crash)
    *    leaves every table exactly as it was, and the aborted version
    *    directories are dropped.
    *  - Commit takes the per-table commit locks in sorted name order
    *    (deadlock-free against other transactions doing the same), then
    *    verifies each table is still at the version staging observed —
    *    any concurrent writer aborts the WHOLE transaction with
    *    `ConcurrentModificationException` — and only then swaps all
    *    pointers.
    *
    * This is the all-or-nothing multi-table publish a medallion load
    * wants (fact + dims changing together). Visibility caveat, stated
    * honestly: pointer swaps are per-table atomic renames issued
    * back-to-back, so a reader racing the commit can observe table A's
    * new version microseconds before table B's — there is no cross-table
    * snapshot isolation, only all-or-nothing durability and conflict
    * detection. Writes inside the transaction see the PRE-transaction
    * state of every table (no read-your-writes); each table may be
    * written at most once. */
  def transaction(f: Txn => Unit): Unit = {
    val txn = new Txn(this)
    try {
      f(txn)
      txn.commitAll()
    } catch { case t: Throwable => txn.abort(); throw t }
  }

  private[tables] def txnStage(name: String, df: DataFrame, partitionBy: Seq[String],
      sortWithin: Seq[String], statsFor: Seq[String], append: Boolean,
      op: String): (Int, Path, Option[Int]) = {
    def stage(df: DataFrame, layout: Layout, carryOver: Seq[FileEntry],
        schemaHint: Option[StructType], base: Option[Int]) = {
      val (v, dir) = allocateVersion(name)
      stageVersion(name, v, dir, df, layout, carryOver, schemaHint, op)
      (v, dir, base)
    }
    if (!append)
      stage(df, Layout(partitionBy, sortWithin, statsFor), Nil, None, version(name))
    else {
      val snap = snapshot(name)
      // identity parity with the direct append path: a transactional
      // append to a GENERATED ALWAYS AS IDENTITY table must block-allocate
      // keys (and reject explicit values) exactly like append() — without
      // this, omitting the column failed with a misleading schema
      // mismatch while supplying it bypassed the locked counter and could
      // collide with keys block-allocated by direct appends
      val (keyed, cleanup) = applyIdentity(name, df)
      try stage(alignedForAppend(name, snap.schema, keyed), snap.layout, snap.entries,
        Some(snap.schema), Some(snap.version))
      finally cleanup()
    }
  }

  private[tables] def txnCommit(staged: Seq[(String, Int, Path, Option[Int])],
      onCommitBegan: () => Unit = () => ()): Unit = {
    val names = staged.map(_._1).sorted
    def lockAll(ns: Seq[String])(body: => Unit): Unit = ns match {
      case Seq() => body
      case head +: tail => withCommitLock(head)(lockAll(tail)(body))
    }
    lockAll(names) {
      staged.foreach { case (name, _, _, base) =>
        val cur = version(name)
        if (cur != base) throw new java.util.ConcurrentModificationException(
          s"transaction: $name moved from version $base to $cur since staging — " +
            "the whole transaction is rolled back")
      }
      // Intent journal: the per-table pointer swaps below are atomic
      // renames issued back-to-back, so a crash BETWEEN them would leave
      // the tables mutually inconsistent — exactly what the transaction
      // exists to prevent. The (table -> version) intent is made durable
      // FIRST; from that instant the transaction is committed-in-spirit
      // and every failure rolls FORWARD: attach-time recovery
      // ([[recoverTxnIntents]]) completes the remaining swaps, and the
      // intent file is deleted only after the last one. Before the intent
      // exists, failures still abort cleanly (nothing was published).
      val intent = writeTxnIntent(staged.map(s => (s._1, s._2)))
      val intentId = intent.getFileName.toString.stripPrefix("intent.")
      var i = 0
      try {
        onCommitBegan()
        staged.foreach { case (name, v, _, _) =>
          promoteManifest(name, v); swapTo(name, v)
          i += 1
          if (i == crashAfterSwapsForTest)
            throw new IllegalStateException("simulated crash mid-publish")
        }
      } catch {
        case t: Throwable =>
          // the commit window is over (interrupted) — deregister so a
          // fresh attach IN THIS PROCESS can roll the publish forward
          TableStore.inflightTxnIntents.remove(intentId)
          throw new IllegalStateException(
            s"transaction publish interrupted after $i/${staged.size} tables; " +
              s"intent ${intent.getFileName} retained — re-attaching the store " +
              "completes the remaining swaps (roll-forward recovery)", t)
      }
      // Every pointer moved — the transaction IS published. Deleting the
      // intent is cleanup, not commit: an IO failure here must not surface
      // as a publish failure (a retained intent is harmless — recovery is
      // idempotent for tables already at their intended version).
      try Files.deleteIfExists(intent)
      catch { case _: java.io.IOException => () }
      finally TableStore.inflightTxnIntents.remove(intentId)
      ()
    }
  }

  /** Test seam: throw after N pointer swaps to simulate a crash
    * mid-publish (-1 = never). */
  private[tables] var crashAfterSwapsForTest: Int = -1

  private def txnIntentDir: Path = Paths.get(root, "_txn_intents")

  private def writeTxnIntent(tables: Seq[(String, Int)]): Path = {
    Files.createDirectories(txnIntentDir)
    val id = TableStore.writerToken()
    // registered BEFORE the file exists so a concurrent same-process
    // attach can never observe this healthy commit's intent unregistered
    TableStore.inflightTxnIntents.add(id)
    try {
      val tmp = txnIntentDir.resolve(s"intent.$id.tmp")
      Files.write(tmp, tables.map { case (n, v) => s"$n\t$v" }
        .mkString("\n").getBytes(UTF_8))
      val fin = txnIntentDir.resolve(s"intent.$id")
      Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE)
      fin
    } catch {
      case t: Throwable => TableStore.inflightTxnIntents.remove(id); throw t
    }
  }

  /** Complete transactions that crashed mid-publish: for every retained
    * intent, promote+swap each listed table that is still behind its
    * intended version, then drop the intent. Runs at attach, before the
    * store serves anything. A table already at (or past) the intended
    * version is skipped — its swap happened before the crash.
    *
    * An intent file exists during every HEALTHY commit window too, so
    * recovery only touches what it can PROVE is a crash: intents of THIS
    * process are skipped while their commit is still in flight
    * ([[TableStore.inflightTxnIntents]]); intents of other SAME-HOST
    * writers are recovered only once their process is provably gone; and
    * a FOREIGN host's intent is never touched — its liveness is
    * unknowable here, so that writer (or its own next attach) recovers
    * it. A dead writer's retained `_COMMIT_LOCK` is NOT deleted here —
    * the lock records its holder, and [[withCommitLock]] itself breaks
    * locks of provably-dead holders (serialized and re-verified under an
    * OS advisory lock), so recovery simply acquires the lock like any
    * other writer and can never delete one a concurrent recoverer or
    * fresh commit is legitimately holding. */
  private def recoverTxnIntents(): Unit = {
    if (!Files.isDirectory(txnIntentDir)) return
    import scala.jdk.CollectionConverters._
    val stream = Files.list(txnIntentDir)
    val intents = try stream.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
      finally stream.close()
    val selfPid = ProcessHandle.current().pid()
    intents.filter(_.getFileName.toString.startsWith("intent.")).foreach { f =>
      val fn = f.getFileName.toString
      val tok = fn.stripPrefix("intent.").stripSuffix(".tmp")
      val isSelf = TableStore.sameHostPid(tok).contains(selfPid)
      val selfInFlight = isSelf && TableStore.inflightTxnIntents.contains(tok)
      // not ours to touch: a live commit window, or a writer whose
      // liveness cannot be proven from this host
      if (selfInFlight || (!isSelf && !TableStore.writerDead(tok))) ()
      else if (fn.endsWith(".tmp")) { Files.deleteIfExists(f); () }
      else {
        // the liveness checks above and this read are not atomic: a commit
        // finishing in the gap deletes its intent — that's a completed
        // transaction, not a recovery case, so a vanished file is skipped
        val raw = try Some(new String(Files.readAllBytes(f), UTF_8))
          catch { case _: java.nio.file.NoSuchFileException => None }
        val pairs = raw.getOrElse("").split('\n')
          .filter(_.nonEmpty).toSeq
          .map { l => val p = l.split('\t'); (p(0), p(1).toInt) }
        pairs.foreach { case (name, v) =>
          // a DEAD writer's retained lock is broken inside withCommitLock
          // itself (holder-verified) — nothing to pre-delete here
          withCommitLock(name) {
            if (!version(name).exists(_ >= v)) {
              if (Files.exists(stagedManifestPath(name, v))) promoteManifest(name, v)
              if (Files.exists(manifestPath(name, v))) swapTo(name, v)
              else throw new IllegalStateException(
                s"transaction recovery: $name v$v listed in intent " +
                  s"${f.getFileName} but no staged or committed manifest " +
                  "exists — the store is corrupted, refusing to serve")
            }
          }
        }
        Files.deleteIfExists(f)
        ()
      }
    }
  }

  private[tables] def txnAbort(dirs: Seq[Path]): Unit =
    dirs.foreach(dropAbortedVersion)

  // -------------------------------------------------------------- metadata

  /** Table-level metadata sidecar: the reference's COMMENT clauses and
    * TBLPROPERTIES/constraint DDL (01_Init.py:58-77, 236-241 — column
    * comments, table comment, PRIMARY KEY recorded as metadata; Spark
    * cannot enforce PK/FK either, SURVEY.md §1.1). Stored as a properties
    * file beside the snapshots, so metadata survives every snapshot swap
    * and is versioned with the table directory. */
  def setMeta(name: String, meta: TableMeta): Unit = {
    val p = new java.util.Properties()
    meta.comment.foreach(p.setProperty("comment", _))
    meta.columnComments.foreach { case (c, v) => p.setProperty(s"col.$c", v) }
    meta.properties.foreach { case (k, v) => p.setProperty(s"prop.$k", v) }
    val dir = tableDir(name)
    Files.createDirectories(dir)
    val out = Files.newOutputStream(dir.resolve("_META"))
    try p.store(out, null) finally out.close()
  }

  def meta(name: String): TableMeta = {
    val f = tableDir(name).resolve("_META")
    if (!Files.exists(f)) TableMeta()
    else {
      val p = new java.util.Properties()
      val in = Files.newInputStream(f)
      try p.load(in) finally in.close()
      val entries = p.asScala.toMap
      TableMeta(
        comment = entries.get("comment"),
        columnComments = entries.collect { case (k, v) if k.startsWith("col.") => k.stripPrefix("col.") -> v },
        properties = entries.collect { case (k, v) if k.startsWith("prop.") => k.stripPrefix("prop.") -> v })
    }
  }

  /** DESCRIBE DETAIL surface: current snapshot facts, driver-side
    * metadata only (manifest + file sizes — no Spark job). Layout columns
    * are reported by their logical (visible) names. */
  def detail(name: String): Map[String, String] = {
    val snap = snapshot(name)
    val entries = snap.entries
    val bytes = entries.map(e => Files.size(Paths.get(absPath(name, e.rel)))).sum
    Map(
      "location" -> tableDir(name).toString,
      "version" -> snap.version.toString,
      "num_files" -> entries.size.toString,
      "size_bytes" -> bytes.toString,
      "num_dv_files" -> entries.count(_.dvs.nonEmpty).toString,
      "partition_columns" -> logicalNames(name, snap.layout.partitionBy).mkString(","),
      "sort_columns" -> logicalNames(name, snap.layout.sortWithin).mkString(","),
      "dml_mode" -> dmlMode(name),
      "num_columns" -> snap.schema.fields.length.toString,
      "primary_key" -> meta(name).properties.getOrElse("primary_key", ""),
      "row_tracking" -> rowTrackingEnabled(name).toString,
      "not_null_columns" -> notNullColumns(name).mkString(","),
      "column_defaults" -> columnDefaults(name).toSeq.sortBy(_._1)
        .map { case (c, e) => s"$c: $e" }.mkString("; "),
      "bloom_filter_columns" -> bloomIndexCols(name).mkString(","),
      "foreign_keys" -> foreignKeys(name).toSeq.sortBy(_._1).map {
        case (c, (cols, ref, refCols)) =>
          s"$c: (${cols.mkString(",")}) REFERENCES $ref(${refCols.mkString(",")})"
      }.mkString("; "))
  }

  /** Record a (non-enforced) primary key, like the reference's
    * `ALTER TABLE … ADD PRIMARY KEY` (01_Init.py:239-241). */
  def setPrimaryKey(name: String, cols: Seq[String]): Unit =
    setMeta(name, meta(name).copy(properties =
      meta(name).properties + ("primary_key" -> cols.mkString(","))))

  /** Record an INFORMATIONAL foreign key — the reference's fact DDL
    * declares these inline (`_tf_dim_calendar_id INT REFERENCES
    * gold.dim_calendar(...)`, 01_Init.py:336-341). Like Databricks
    * PK/FK constraints it is NOT enforced (that's what keeps writes
    * join-free); it documents the star topology for tools and humans, and
    * [[fkOrphans]] runs the integrity scan on demand. Child columns are
    * validated to exist and are then drop/rename-protected; the PARENT
    * side is validated at declaration only (a later parent rename shows
    * up in the orphan scan, not silently). */
  def setForeignKey(name: String, cname: String, cols: Seq[String],
      refTable: String, refCols: Seq[String]): Unit = {
    require(cols.nonEmpty && cols.length == refCols.length,
      s"$name FOREIGN KEY $cname: child/parent column lists must align")
    val visible = logicalizeSchema(name, snapshot(name).schema).fieldNames
    cols.foreach(c => require(visible.exists(_.equalsIgnoreCase(c)),
      s"$name FOREIGN KEY $cname: no column $c (columns: ${visible.mkString(", ")})"))
    require(exists(refTable),
      s"$name FOREIGN KEY $cname: referenced table $refTable not found")
    val refVisible = logicalizeSchema(refTable, snapshot(refTable).schema).fieldNames
    refCols.foreach(c => require(refVisible.exists(_.equalsIgnoreCase(c)),
      s"$name FOREIGN KEY $cname: $refTable has no column $c"))
    setMeta(name, meta(name).copy(properties = meta(name).properties +
      (s"fk.$cname" -> s"${cols.mkString(",")}|$refTable|${refCols.mkString(",")}")))
  }

  def dropForeignKey(name: String, cname: String): Unit =
    setMeta(name, meta(name).copy(properties =
      meta(name).properties - s"fk.$cname"))

  /** Declare a bloom-filter index on `cols` (Databricks' `CREATE
    * BLOOMFILTER INDEX`, the point-lookup complement to min/max data
    * skipping). From the NEXT write on, every data file embeds a
    * parquet-native bloom filter for each indexed column — the filter
    * lives IN the data file (parquet spec, readable by any engine), so
    * the manifest carries zero extra bytes and a 100 TB table's index
    * scales with its files, not its commit log. Consulted in two places:
    * (a) [[pruneEntries]]'s equality refinement — point SELECT / UPDATE /
    * DELETE and MERGE's per-tuple candidate cut skip files whose [min,
    * max] admits a key the bloom proves absent (interleaved or
    * hash-scattered keys defeat min/max entirely; blooms are the standard
    * answer); (b) parquet's own row-group filtering on pushed predicates.
    * `ndv` sizes the filter (expected distinct values per file; ~1.2
    * bytes each at the writer's default 1% false-positive rate).
    * Existing files are untouched — rewrite via OPTIMIZE to index old
    * data, exactly like Databricks. */
  def setBloomFilterIndex(name: String, cols: Seq[String], ndv: Long = 100000L): Unit = {
    require(cols.nonEmpty, s"$name: bloom filter index needs at least one column")
    TableStore.checkKnob(name, "bloom.ndv", ndv.toString)
    val visible = logicalizeSchema(name, snapshot(name).schema).fieldNames
    // store the SCHEMA's spelling, not the user's — downstream consumers
    // do exact-string matches against schema names (the r14 cased-INSERT
    // bug class), and a cased stored name would silently dead-arm the index
    val resolved = cols.map(MergeInto.resolveColumn(visible.toSeq, _,
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean,
      s"$name bloom index"))
    setMeta(name, meta(name).copy(properties = meta(name).properties +
      ("bloom.cols" -> resolved.mkString(",")) + ("bloom.ndv" -> ndv.toString)))
  }

  def dropBloomFilterIndex(name: String): Unit =
    setMeta(name, meta(name).copy(properties =
      meta(name).properties - "bloom.cols" - "bloom.ndv"))

  /** Cap the rows any single data file may hold (Delta's target file
    * size, row edition): every write — loads, DML rewrites, OPTIMIZE —
    * splits oversized partition outputs. File-level skipping, pruned DML
    * and parallel reads all key off file granularity; files sized by this
    * knob keep those effective as the table grows 100×. */
  def setTargetFileRows(name: String, rows: Long): Unit = {
    TableStore.checkKnob(name, "target_file_rows", rows.toString)
    setMeta(name, meta(name).copy(properties =
      meta(name).properties + ("target_file_rows" -> rows.toString)))
  }

  private def targetFileRows(name: String): Option[Long] =
    meta(name).properties.get("target_file_rows").map(_.toLong)

  /** Logical names of the bloom-indexed columns (empty = no index). */
  private[graft] def bloomIndexCols(name: String): Seq[String] =
    bloomColsOf(meta(name).properties)

  private def bloomColsOf(props: Map[String, String]): Seq[String] =
    props.get("bloom.cols")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)

  private def bloomNdv(name: String): Long =
    meta(name).properties.get("bloom.ndv").map(_.toLong).getOrElse(100000L)

  // ------------------------------------------------- materialized views

  /** An incrementally-maintained aggregate materialized view: `view` =
    * `SELECT keys…, aggs… FROM source GROUP BY keys…`, where each agg is
    * (outputColumn, fn, arg) with fn ∈ {count, sum} (arg `*` for
    * count(*)). Count and sum are the self-maintainable aggregates: a
    * [[refreshMaterializedView]] applies the source's CHANGE FEED as
    * signed deltas (+1 for insert/update_postimage, −1 for
    * delete/update_preimage), so refresh cost scales with the rows
    * CHANGED since the last refresh, never the source table — the
    * Databricks/DLT incremental-MV contract. Min/max are NOT
    * incrementally maintainable under deletes and are rejected here.
    *
    * The view is a real store table carrying bookkeeping columns: a
    * hidden `__mv_n` group row count (a group whose count reaches zero is
    * deleted — sums alone cannot distinguish "all rows gone" from "sums
    * to zero") and one `__mv_nn_<out>` non-null counter per sum output
    * (SQL's `sum` is NULL over zero non-null values, so maintaining it
    * exactly needs the non-null count, the textbook view-maintenance
    * construction). The defining snapshot is PINNED by version: the
    * initial build reads the recorded version via time travel, so a
    * source commit racing the build is replayed by the next refresh
    * instead of silently double-counted. */
  def createMaterializedView(view: String, source: String, groupBy: Seq[String],
      aggs: Seq[(String, String, String)]): Unit = {
    require(aggs.nonEmpty, s"$view: a materialized view needs at least one aggregate")
    aggs.foreach { case (out, fn, arg) =>
      require(Set("count", "sum")(fn),
        s"$view: aggregate $fn($arg) AS $out is not incrementally maintainable — " +
          "count and sum only (min/max cannot be maintained under deletes)")
      require(fn != "sum" || arg != "*", s"$view: sum(*) is not a thing")
    }
    require(groupBy.nonEmpty, s"$view: GROUP BY must name at least one column")
    val cur = version(source).getOrElse(
      throw new IllegalArgumentException(s"materialized view source not found: $source"))
    enableChangeFeed(source)
    createOrReplace(view, mvBody(source, Some(cur), groupBy, aggs))
    setMeta(view, meta(view).copy(properties = meta(view).properties +
      ("mv.source" -> source) + ("mv.keys" -> groupBy.mkString(",")) +
      ("mv.aggs" -> aggs.map { case (o, f, a) => s"$o:$f:$a" }.mkString(";")) +
      ("mv.version" -> cur.toString)))
  }

  final case class MvDef(source: String, keys: Seq[String],
      aggs: Seq[(String, String, String)], version: Int)

  def mvDefinition(view: String): Option[MvDef] = {
    val p = meta(view).properties
    for { src <- p.get("mv.source"); ks <- p.get("mv.keys"); as <- p.get("mv.aggs");
          v <- p.get("mv.version") } yield
      MvDef(src, ks.split(',').toSeq,
        as.split(';').toSeq.map { s =>
          val Array(o, f, a) = s.split(':'); (o, f, a) }, v.toInt)
  }

  private def mvNn(out: String) = s"__mv_nn_$out"

  /** The view's defining aggregation, computed from scratch over a pinned
    * source snapshot — the initial build and the full-rebuild fallback. */
  private def mvBody(source: String, version: Option[Int], keys: Seq[String],
      aggs: Seq[(String, String, String)]): DataFrame = {
    val src = version.map(v => readVersion(source, v)).getOrElse(read(source))
    val aggCols = aggs.flatMap {
      case (out, "count", "*") => Seq(count(lit(1)).as(out))
      case (out, "count", a) => Seq(count(col(a)).as(out))
      case (out, "sum", a) => Seq(sum(col(a)).as(out), count(col(a)).as(mvNn(out)))
    } :+ count(lit(1)).as("__mv_n")
    src.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
  }

  /** Latest source version an incremental refresh MERGE has applied,
    * read from manifest op labels (`mv_refresh:<v>`) — the crash-recovery
    * complement to the `mv.version` metadata: the marker commits
    * atomically WITH the delta merge, so a refresh that crashed between
    * its merge and its metadata write is still visible and never
    * double-applied. [[vacuum]] folds the high-water marker into the
    * metadata before retiring manifests, exactly like the streaming
    * exactly-once gate. */
  private def lastMvRefresh(ops: Seq[String]): Option[Int] =
    ops.collect { case op if op.startsWith("mv_refresh:") =>
      op.stripPrefix("mv_refresh:").toInt }.maxOption

  private def persistMvVersion(view: String, v: Int): Unit =
    setMeta(view, meta(view).copy(properties =
      meta(view).properties + ("mv.version" -> v.toString)))

  /** Bring `view` up to date with its source. Incremental whenever the
    * change feed can supply the delta; falls back to a pinned full
    * rebuild when it cannot (a vacuumed feed gap, a rewriting commit made
    * before the feed was enabled) or when a delta group key is NULL
    * (MERGE's key equality cannot address NULL groups). The delta path
    * is: signed per-group aggregation of the feed (one small job), one
    * file-pruned MERGE into the view — refresh cost tracks the change
    * set, never the source size. */
  def refreshMaterializedView(view: String): Unit = {
    val d = mvDefinition(view).getOrElse(throw new IllegalArgumentException(
      s"$view is not a materialized view (no mv.* metadata)"))
    // every retained view version, parsed once: op labels and the schema
    val views = versions(view).map(snapshotAt(view, _))
    val applied = math.max(d.version, lastMvRefresh(views.map(_.op)).getOrElse(Int.MinValue))
    val cur = version(d.source).getOrElse(throw new IllegalStateException(
      s"$view: source ${d.source} no longer exists"))
    if (cur <= applied) {
      if (applied > d.version) persistMvVersion(view, applied) // heal meta
      return
    }
    def fullRebuild(): Unit = {
      createOrReplace(view, mvBody(d.source, Some(cur), d.keys, d.aggs))
      persistMvVersion(view, cur)
    }
    val feed =
      try changeFeed(d.source, applied, cur)
      catch { case _: IllegalStateException => fullRebuild(); return }
    val sign = when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
      .otherwise(lit(-1L))
    val deltaCols = d.aggs.flatMap {
      case (out, "count", "*") => Seq(sum(sign).as(s"__d_$out"))
      case (out, "count", a) =>
        Seq(sum(when(col(a).isNotNull, sign).otherwise(lit(0L))).as(s"__d_$out"))
      case (out, "sum", a) => Seq(
        sum(col(a) * sign).as(s"__d_$out"),
        sum(when(col(a).isNotNull, sign).otherwise(lit(0L))).as(s"__d_${mvNn(out)}"))
    } :+ sum(sign).as("__d___mv_n")
    val delta = feed.groupBy(d.keys.map(col): _*).agg(deltaCols.head, deltaCols.tail: _*)
      .persist()
    try {
      if (delta.filter(d.keys.map(col(_).isNull).reduce(_ || _)).limit(1).count() > 0) {
        fullRebuild(); return
      }
      val viewSchema = logicalizeSchema(view, views.last.schema)
      def typed(c: String, e: Column): Column = e.cast(viewSchema(c).dataType)
      val setCols: Map[String, Column] =
        (d.aggs.flatMap {
          case (out, "count", _) =>
            Seq(out -> typed(out, col(s"t.$out") + col(s"s.__d_$out")))
          case (out, "sum", _) =>
            val nn = mvNn(out)
            Seq(
              // NULL-exact: zero non-null contributors → NULL, else the
              // null-propagating sum falls through the coalesce chain
              out -> typed(out, when(col(s"t.$nn") + col(s"s.__d_$nn") === 0,
                  lit(null))
                .otherwise(coalesce(col(s"t.$out") + col(s"s.__d_$out"),
                  col(s"t.$out"), col(s"s.__d_$out")))),
              nn -> typed(nn, col(s"t.$nn") + col(s"s.__d_$nn")))
        } :+ ("__mv_n" -> typed("__mv_n", col("t.__mv_n") + col("s.__d___mv_n")))).toMap
      val insertCols: Map[String, Column] =
        (d.keys.map(k => k -> col(s"s.$k")) ++
          d.aggs.flatMap {
            case (out, "count", _) => Seq(out -> typed(out, col(s"s.__d_$out")))
            case (out, "sum", _) => Seq(
              out -> typed(out, col(s"s.__d_$out")),
              mvNn(out) -> typed(mvNn(out), col(s"s.__d_${mvNn(out)}")))
          } :+ ("__mv_n" -> typed("__mv_n", col("s.__d___mv_n")))).toMap
      merge(view, delta, d.keys,
        matched = Seq(
          MergeInto.MatchedDelete(Some(col("t.__mv_n") + col("s.__d___mv_n") === 0)),
          MergeInto.MatchedUpdate(None, setCols)),
        // a key fully churned INSIDE the refresh window (inserted then
        // deleted) arrives unmatched with a net-zero delta — inserting it
        // would create a zombie count-0 group a from-scratch rebuild
        // would not contain
        notMatched = Seq(MergeInto.NotMatchedInsert(
          Some(col("s.__d___mv_n") =!= 0), insertCols)),
        op = s"mv_refresh:$cur")
      persistMvVersion(view, cur)
    } finally delta.unpersist()
  }

  /** Declared foreign keys: constraint name → (child cols, parent table,
    * parent cols). */
  def foreignKeys(name: String): Map[String, (Seq[String], String, Seq[String])] =
    meta(name).properties.collect {
      case (k, v) if k.startsWith("fk.") =>
        val Array(cols, ref, refCols) = v.split('|')
        k.stripPrefix("fk.") ->
          ((cols.split(',').toSeq, ref, refCols.split(',').toSeq))
    }

  /** On-demand FK integrity scan: rows of `name` whose (fully non-null)
    * child key has no match in the parent. One left-anti join, parent side
    * pruned to its key columns — broadcastable for dimension-sized
    * parents, which is the star-schema case this exists for. */
  def fkOrphans(name: String, cname: String): Long = {
    val (cols, refTable, refCols) = foreignKeys(name).getOrElse(cname,
      throw new IllegalArgumentException(s"$name: no FOREIGN KEY $cname"))
    val child = read(name).filter(cols.map(col(_).isNotNull).reduce(_ && _)).alias("c")
    val parent = read(refTable).select(refCols.map(col): _*).alias("p")
    child.join(parent,
        cols.zip(refCols).map { case (a, b) => col(s"c.$a") === col(s"p.$b") }.reduce(_ && _),
        "left_anti")
      .count()
  }

  // ------------------------------------------------------------ constraints

  /** ALTER TABLE … ADD CONSTRAINT … CHECK: an ENFORCED row predicate.
    * Existing rows are validated once at add time (like Delta, the
    * statement fails if any row violates); every subsequent write
    * validates the rows it writes IN the write pass itself — the check
    * rides the write plan as a `raise_error` branch, so enforcement costs
    * zero extra scans and a violating DML aborts (the staged version is
    * dropped, the table unchanged). SQL semantics: NULL condition results
    * pass (violation = provably FALSE), per the standard and Delta. */
  def addCheckConstraint(name: String, cname: String, conditionSql: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr}
    val violations = read(name).filter(!coalesce(expr(conditionSql), lit(true))).count()
    require(violations == 0,
      s"cannot add CHECK constraint $cname on $name: $violations existing row(s) " +
        s"violate ($conditionSql)")
    setMeta(name, meta(name).copy(properties =
      meta(name).properties + (s"check.$cname" -> conditionSql)))
  }

  def dropCheckConstraint(name: String, cname: String): Unit =
    setMeta(name, meta(name).copy(properties =
      meta(name).properties - s"check.$cname"))

  /** ALTER TABLE … ALTER COLUMN … SET NOT NULL — an ENFORCED nullability
    * constraint (Delta's semantics): existing rows are validated once at
    * declaration (the statement fails if any row is NULL), and every
    * subsequent write validates in the write pass itself through the same
    * raise_error mechanism CHECK constraints ride — zero extra scans, and
    * a violating DML aborts with the table unchanged. */
  def setNotNull(name: String, colName: String): Unit = {
    val rows = read(name)
    val f = rows.schema.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
      throw new IllegalArgumentException(s"$name: no such column $colName"))
    val nulls = rows.filter(col(f.name).isNull).count()
    require(nulls == 0,
      s"cannot SET NOT NULL on $name.${f.name}: $nulls existing NULL row(s)")
    setMeta(name, meta(name).copy(properties =
      meta(name).properties + (s"notnull.${physicalName(name, f.name)}" -> "true")))
  }

  def dropNotNull(name: String, colName: String): Unit =
    setMeta(name, meta(name).copy(properties =
      meta(name).properties - s"notnull.${physicalName(name, colName)}"))

  /** LOGICAL names of columns declared NOT NULL (enforced on write). */
  def notNullColumns(name: String): Seq[String] =
    meta(name).properties.keys.toSeq.filter(_.startsWith("notnull."))
      .map(_.stripPrefix("notnull."))
      .map(p => renames(name).getOrElse(p, p)).sorted

  /** ALTER TABLE … ALTER COLUMN … COMMENT '…' (logical name). */
  def setColumnComment(name: String, colName: String, comment: String): Unit = {
    val visible = logicalizeSchema(name, snapshot(name).schema)
    val f = visible.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
      throw new IllegalArgumentException(s"$name: no such column $colName"))
    val m = meta(name)
    setMeta(name, m.copy(columnComments = m.columnComments + (f.name -> comment)))
  }

  /** ALTER TABLE … ALTER COLUMN … SET DEFAULT <expr>: recorded as
    * metadata and applied by the SQL INSERT path when a statement OMITS
    * the column (standard DEFAULT semantics — an explicit NULL stays
    * NULL). The expression must evaluate constant-foldably and cast to
    * the column type; both are probed at declaration so a bad default
    * fails the ALTER, not some later INSERT. */
  def setColumnDefault(name: String, colName: String, sqlExpr: String): Unit = {
    import org.apache.spark.sql.functions.expr
    val visible = logicalizeSchema(name, snapshot(name).schema)
    val f = visible.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
      throw new IllegalArgumentException(s"$name: no such column $colName"))
    // declaration-time probe: parses, folds without input rows, casts
    spark.range(1).select(expr(sqlExpr).cast(f.dataType)).head()
    setMeta(name, meta(name).copy(properties =
      meta(name).properties + (s"coldefault.${physicalName(name, f.name)}" -> sqlExpr)))
  }

  def dropColumnDefault(name: String, colName: String): Unit =
    setMeta(name, meta(name).copy(properties =
      meta(name).properties - s"coldefault.${physicalName(name, colName)}"))

  /** Declared column defaults: LOGICAL column name → default SQL text. */
  def columnDefaults(name: String): Map[String, String] =
    meta(name).properties.collect {
      case (k, v) if k.startsWith("coldefault.") =>
        val p = k.stripPrefix("coldefault.")
        renames(name).getOrElse(p, p) -> v
    }

  /** The table's CHECK constraints: name → condition SQL. */
  def checkConstraints(name: String): Map[String, String] =
    meta(name).properties.collect {
      case (k, v) if k.startsWith("check.") => k.stripPrefix("check.") -> v
    }

  /** Thread every CHECK and NOT NULL constraint into `df`'s plan as a
    * pass-through filter whose false branch raises — single-pass
    * enforcement during the write job. */
  private def enforceChecks(name: String, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, concat, expr, raise_error, struct, to_json}
    val checks = checkConstraints(name)
    val afterChecks = checks.toSeq.sortBy(_._1).foldLeft(df) { case (d, (cname, sql)) =>
      d.filter(
        when(coalesce(expr(sql), lit(true)), lit(true))
          .otherwise(raise_error(concat(
            lit(s"CHECK constraint $cname ($sql) violated by row: "),
            to_json(struct(d.columns.toSeq.map(col): _*)))).cast("boolean")))
    }
    // NOT NULL columns absent from this frame are derived later in the
    // write (generated/identity) — they can't be NULL, skip them here
    notNullColumns(name)
      .flatMap(c => afterChecks.columns.find(_.equalsIgnoreCase(c)))
      .foldLeft(afterChecks) { (d, c) =>
        d.filter(
          when(col(c).isNotNull, lit(true))
            .otherwise(raise_error(concat(
              lit(s"NOT NULL constraint on $name.$c violated by row: "),
              to_json(struct(d.columns.toSeq.map(col): _*)))).cast("boolean")))
      }
  }

  /** DROP TABLE: remove every version, manifest and sidecar of `name`.
    * Shallow clones of the table break (their manifests reference these
    * files by path) — same trade Delta documents for cloned sources. */
  def dropTable(name: String): Unit = {
    val dir = tableDir(name)
    if (Files.exists(dir))
      walkAll(dir).sorted.reverse.foreach(Files.deleteIfExists(_))
  }

  // ---------------------------------------------------------------- vacuum

  /** Drop every data file the CURRENT manifest does not reference, and
    * every non-current manifest (old versions stop being readable — the
    * Delta VACUUM trade). Directories that still hold referenced files
    * survive; emptied version directories are removed.
    *
    * Runs under the table's commit lock so the CURRENT pointer cannot move
    * mid-sweep, and SKIPS in-flight stages: a `v_N` directory without a
    * committed `_MANIFEST` belongs to a writer between [[stageVersion]]
    * and its locked promote+swap (arbitrarily long during
    * [[transaction]]s) — deleting its files would let that writer pass
    * its conflict check and swap `_CURRENT` to a gutted directory.
    * Manifests are only promoted under the same lock, so the distinction
    * is race-free. Stages older than `staleStagingMs` (default 24 h) are
    * treated as crashed writers and removed — Delta's retention-gate
    * shape. */
  def vacuum(name: String, staleStagingMs: Long = 24L * 3600 * 1000,
      retainMs: Long = 0L): Unit = {
    if (version(name).isEmpty) return
    withCommitLock(name) {
      // the pointer and the version set are read under the lock: read
      // before it, a commit landing in between would be in neither the
      // kept version nor `retained`, and its files would be swept while
      // `_CURRENT` names it
      val keepVersion = version(name)
      val allVersions = versions(name)
      // every retained manifest, parsed once for both the op-label folds
      // below and the referenced-file set
      val parsed = allVersions.map(v => v -> snapshotAt(name, v)).toMap
      val ops = parsed.values.map(_.op).toSeq
      // the streaming exactly-once marker lives in manifest op labels this
      // vacuum is about to retire — persist the high-water mark FIRST (if
      // the vacuum crashes in between, the manifests still exist and the
      // gate is unchanged)
      streamHighWater(name, ops).foreach { hw =>
        setMeta(name, meta(name).copy(properties =
          meta(name).properties + ("stream_high_water" -> hw.toString)))
      }
      // same persistence move for the MV refresh marker: fold the op-label
      // high water into mv.version before the manifests carrying it retire
      lastMvRefresh(ops).foreach { v =>
        if (meta(name).properties.get("mv.version").forall(_.toInt < v))
          persistMvVersion(name, v)
      }
      // COPY INTO ledgers live in version dirs this vacuum may retire —
      // fold EVERY committed ledger into the _COPY_LOADED sidecar FIRST
      // (idempotent union via atomic replace; a crash between fold and
      // delete simply re-folds), so re-running a COPY after a vacuum
      // still skips files whose loading commit was retired
      val ledgers = allVersions.flatMap { v =>
        val f = tableDir(name).resolve(s"v_$v").resolve("copy_files")
        if (Files.exists(f)) Files.readAllLines(f).asScala else Nil
      }
      if (ledgers.nonEmpty) {
        val sidecar = tableDir(name).resolve("_COPY_LOADED")
        val prev = if (Files.exists(sidecar))
          Files.readAllLines(sidecar).asScala.toSet else Set.empty[String]
        val tmp = tableDir(name).resolve("_COPY_LOADED.tmp")
        Files.write(tmp, (prev ++ ledgers).toSeq.sorted.mkString("\n").getBytes(UTF_8))
        Files.move(tmp, sidecar, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
      }
      val now = System.currentTimeMillis()
      // retained snapshots = the current version plus every committed
      // version younger than `retainMs` (Delta's retention window): their
      // manifests AND data files survive, so time travel within the
      // window keeps working after the vacuum
      val retained: Set[Int] = allVersions.filter { v =>
        keepVersion.contains(v) || (retainMs > 0 && {
          val mf = tableDir(name).resolve(s"v_$v").resolve("_MANIFEST")
          Files.exists(mf) &&
            now - Files.getLastModifiedTime(mf).toMillis <= retainMs
        })
      }.toSet
      val retainedEntries = retained.toSeq.sorted.flatMap(parsed(_).entries)
      val referenced = retainedEntries
        .map(e => tableDir(name).resolve(e.rel).toAbsolutePath.normalize).toSet
      // deletion-vector sidecars are parquet DIRECTORIES — everything under
      // a referenced DV dir stays
      val dvDirs = retainedEntries.flatMap(_.dvs).distinct.map(d => tableDir(name).resolve(d).toAbsolutePath.normalize)
      val dir = tableDir(name)
      listDir(dir).foreach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("v_")) {
          val isRetained = retained.contains(n.stripPrefix("v_").toInt)
          val committed = Files.exists(p.resolve("_MANIFEST"))
          val ageMs = now - Files.getLastModifiedTime(p).toMillis
          // uncommitted = in-flight stage (or crashed writer): untouchable
          // until it ages past the retention gate
          if (committed || ageMs > staleStagingMs) {
            // delete unreferenced files (and stale manifests) bottom-up
            walkAll(p).sorted.reverse.foreach { f =>
              val abs = f.toAbsolutePath.normalize
              val isManifest = f.getFileName.toString == "_MANIFEST"
              // a retained version's change-feed sidecar must survive with
              // it: deleting cdc/ would destroy the row-level feed over a
              // window the retention promise says is still replayable
              // (changeFeed would then throw, and MV refreshes degrade to
              // full rebuilds)
              val isRetainedCdc = isRetained && {
                val rel = p.relativize(f)
                rel.getNameCount > 0 && rel.getName(0).toString == "cdc"
              }
              if (Files.isDirectory(f)) {
                if (!isRetainedCdc && listDir(f).isEmpty) Files.delete(f)
              } else if (!referenced.contains(abs) && !dvDirs.exists(abs.startsWith) &&
                  !(isManifest && isRetained) && !isRetainedCdc) {
                // retiring a COMMITTED version: leave a durable marker
                // first (crash-safe — a marker beside a still-live
                // manifest is ignored). Version numbers have benign holes
                // too (rebase-vacated, aborted stages), so without the
                // marker a history consumer cannot tell "never existed"
                // from "committed and vacuumed" — the streaming source
                // and changeFeed would skip real, undelivered changes
                // SILENTLY instead of failing loudly.
                if (isManifest)
                  Files.write(dir.resolve(s"_retired_${p.getFileName}"),
                    Array.empty[Byte])
                Files.delete(f)
              }
            }
          }
        }
      }
      // fold the per-version `_retired_v_N` markers into the single
      // `_RETIRED` ledger (idempotent union via atomic replace — the
      // `_COPY_LOADED` shape). The markers stay crash-safe: one is
      // created just before each manifest delete, and a crash anywhere
      // before this fold leaves it in place for the next vacuum to fold.
      // Without the fold the table directory grows one file per version
      // ever retired, taxing every listing (`versions()`, each re-vacuum)
      // with O(all-time history) entries instead of O(live versions).
      //
      // FORMAT BUMP (r14): the fold makes retirement records invisible
      // to builds that predate the `_RETIRED` ledger — their marker-only
      // `wasRetired` answers false after this vacuum, the silent
      // data-skip the marker exists to prevent. Running a MIXED
      // deployment through an upgrade (the overlap the legacy
      // lock-token tolerance supports)? Set table property
      // `graft.vacuum.keepRetiredMarkers=true` for the transition
      // window: the fold still unions into the ledger (new readers get
      // the O(1) path) but RETAINS the markers old readers need; clear
      // the property once every reader is ledger-aware and the next
      // vacuum folds them away.
      // same numeric-suffix guard as retiredVersions: never .toInt a
      // stray prefix-matching file, and never fold/delete one either
      val markers = listDir(dir)
        .filter { p =>
          val s = p.getFileName.toString
          s.startsWith("_retired_v_") && {
            val suf = s.stripPrefix("_retired_v_")
            suf.nonEmpty && suf.forall(_.isDigit)
          }
        }
      if (markers.nonEmpty) {
        val retiredNow = markers
          .map(_.getFileName.toString.stripPrefix("_retired_v_").toInt)
        val ledger = dir.resolve("_RETIRED")
        val prev = if (Files.exists(ledger))
          Files.readAllLines(ledger).asScala.map(_.trim.toInt).toSet
        else Set.empty[Int]
        val tmp = dir.resolve("_RETIRED.tmp")
        Files.write(tmp,
          (prev ++ retiredNow).toSeq.sorted.mkString("\n").getBytes(UTF_8))
        Files.move(tmp, ledger, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
        if (!meta(name).properties.get("graft.vacuum.keepRetiredMarkers")
            .exists(_.equalsIgnoreCase("true")))
          markers.foreach(Files.deleteIfExists(_))
      }
    }
  }

  // Complete any transaction that crashed mid-publish BEFORE this store
  // serves queries — the intent journal's roll-forward half (txnCommit).
  // Runs LAST in the constructor so every field above is initialized.
  recoverTxnIntents()
}
