package graft.tables

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{DataType, StructType}

/** Table-level metadata: the reference's COMMENT clauses and
  * TBLPROPERTIES/constraint DDL (01_Init.py:58-77, 236-241 — column
  * comments, table comment, PRIMARY KEY recorded as metadata; Spark
  * cannot enforce PK/FK either, SURVEY.md §1.1). The one codec of the
  * property keys ([[TableMeta.Key]]): each typed view is decoded lazily,
  * at most once per read, so a statement reads `_META` once and hands
  * this value down. The views speak logical column names. */
final case class TableMeta(
    comment: Option[String] = None,
    columnComments: Map[String, String] = Map.empty,
    properties: Map[String, String] = Map.empty) {
  import TableMeta.Key

  def withProperties(f: Map[String, String] => Map[String, String]): TableMeta =
    copy(properties = f(properties))

  private def scoped(prefix: String): Map[String, String] =
    properties.collect { case (k, v) if k.startsWith(prefix) => k.stripPrefix(prefix) -> v }

  /** A stored positive-integer knob of `table`, checked as SET checks it. */
  private def positive(table: String, key: String): Option[Long] =
    properties.get(key).map(TableMeta.positiveKnob(table, key, _))

  /** physical → logical renames in force. */
  lazy val renames: Map[String, String] = scoped(Key.ColMap)
  /** Physical names of dropped columns (still present in old files). */
  lazy val dropped: Set[String] = scoped(Key.ColDrop).keySet
  private lazy val physicalOf: Map[String, String] = renames.map(_.swap)

  def logicalName(physical: String): String = renames.getOrElse(physical, physical)

  /** A logical column's physical name: exact spelling first, then
    * case-insensitive; unmapped names pass through. */
  def physicalName(logical: String): String = physicalOf.getOrElse(logical,
    physicalOf.find(_._1.equalsIgnoreCase(logical)).map(_._2).getOrElse(logical))

  /** The logical (visible) view of a physical manifest schema. */
  def logicalize(physical: StructType): StructType =
    if (renames.isEmpty && dropped.isEmpty) physical
    else StructType(physical.fields.toSeq.filterNot(f => dropped(f.name))
      .map(f => f.copy(name = logicalName(f.name))))

  /** A logical schema's fields renamed back to physical (what files hold). */
  def physicalize(logical: StructType): StructType =
    if (physicalOf.isEmpty) logical
    else StructType(logical.fields.toSeq.map(f => f.copy(name = physicalOf.getOrElse(f.name, f.name))))

  /** `prefix`-keyed properties of columns, keyed by logical name. */
  private def byColumn(prefix: String) = scoped(prefix).map { case (p, v) => logicalName(p) -> v }
  /** Generation expressions: logical column → SQL. */
  lazy val generatedColumns: Map[String, String] = byColumn(Key.GenCol)
  private lazy val identityDecl: Option[(String, Array[Long])] =
    scoped(Key.Identity).headOption.map { case (p, v) => p -> v.split(',').map(_.toLong) }
  /** The identity declaration: (logical column, start, step, issued). */
  lazy val identity: Option[(String, Long, Long, Long)] = identityDecl.map {
    case (p, Array(start, step, issued)) => (logicalName(p), start, step, issued) }
  /** This metadata with `n` more identity keys issued. */
  def claimIdentity(n: Long): TableMeta = identityDecl.fold(this) {
    case (p, Array(start, step, issued)) =>
      withProperties(_ + (Key.Identity + p -> s"$start,$step,${issued + n}")) }
  /** CHECK constraints: name → condition SQL. */
  lazy val checks: Map[String, String] = scoped(Key.Check)
  /** Logical names of the NOT NULL columns, sorted. */
  lazy val notNullColumns: Seq[String] = scoped(Key.NotNull).keys.toSeq.map(logicalName).sorted
  /** Column defaults: logical column → SQL. */
  lazy val columnDefaults: Map[String, String] = byColumn(Key.ColDefault)
  /** Foreign keys: name → (child columns, parent table, parent columns). */
  lazy val foreignKeys: Map[String, (Seq[String], String, Seq[String])] =
    scoped(Key.Fk).map { case (c, v) =>
      val Array(cols, ref, refCols) = v.split('|')
      c -> ((cols.split(',').toSeq, ref, refCols.split(',').toSeq))
    }
  def primaryKey: Option[String] = properties.get(Key.PrimaryKey)

  /** Logical names of the bloom-indexed columns (empty = no index). */
  lazy val bloomCols: Seq[String] = properties.get(Key.BloomCols)
    .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
  def bloomNdv(table: String): Long = positive(table, Key.BloomNdv).getOrElse(100000L)
  def targetFileRows(table: String): Option[Long] = positive(table, Key.TargetFileRows)
  def dmlMode: String = properties.getOrElse(Key.DmlMode, "cow")
  def cdf: Boolean = properties.get(Key.Cdf).contains("true")
  def rowTracking: Boolean = properties.get(Key.RowTracking).contains("true")
  def isolation: String = properties.getOrElse(Key.Isolation, "writeserializable")
  /** Auto-compaction: (small-file count that triggers it, small-file bytes). */
  def autoCompact(table: String): Option[(Int, Long)] = positive(table, Key.AutoCompactFiles)
    .map(n => (n.toInt, positive(table, Key.AutoCompactBytes).getOrElse(32L << 20)))
  def rowHighWater: Long = properties.get(Key.RowHighWater).fold(0L)(_.toLong)
  def streamHighWater: Option[Long] = properties.get(Key.StreamHighWater).map(_.toLong)

  /** A full ZORDER optimize's persisted curve: (columns, bits,
    * per-column quantile boundaries, baseline version). */
  lazy val zorder: Option[(Seq[String], Int, Array[Array[Double]], Int)] = for {
    cols <- properties.get(Key.ZOrder + "cols")
    bits <- properties.get(Key.ZOrder + "bits")
    bounds <- properties.get(Key.ZOrder + "bounds")
    base <- properties.get(Key.ZOrderBase)
  } yield (cols.split(',').toSeq, bits.toInt,
    // limit -1 keeps a final all-NULL column's empty bounds (split()
    // drops trailing empty segments; the per-column lookup is positional)
    bounds.split(";", -1).map(s => if (s.isEmpty) Array.empty[Double]
      else s.split(':').map(_.toDouble)), base.toInt)

  lazy val mvDefinition: Option[MvDef] = for {
    src <- properties.get(Key.Mv + "source"); ks <- properties.get(Key.Mv + "keys")
    as <- properties.get(Key.Mv + "aggs"); v <- properties.get(Key.MvVersion)
  } yield MvDef(src, ks.split(',').toSeq,
    as.split(';').toSeq.map { s => val Array(o, f, a) = s.split(':'); (o, f, a) }, v.toInt)
}

object TableMeta {
  /** The property keys. Prefixes end in `.` and scope a key to a column
    * (by physical name) or a constraint (by name). */
  object Key {
    // column declarations and mapping, by physical column
    val ColMap = "colmap."
    val ColDrop = "coldrop."
    val GenCol = "gencol."
    val Identity = "identity."
    val NotNull = "notnull."
    val ColDefault = "coldefault."
    // constraints, by constraint name; the primary key
    val Check = "check."
    val Fk = "fk."
    val PrimaryKey = "primary_key"
    // materialized view, ZORDER curve and bloom index
    val Mv = "mv."
    val MvVersion = "mv.version"
    val ZOrder = "zorder."
    val ZOrderBase = "zorder.base"
    val Bloom = "bloom."
    val BloomCols = "bloom.cols"
    val BloomNdv = "bloom.ndv"
    // write knobs, and the high-water marks the write path keeps
    val DmlMode = "dml_mode"
    val TargetFileRows = "target_file_rows"
    val Cdf = "cdf"
    val Isolation = "isolation"
    val RowTracking = "rowtracking"
    val AutoCompactFiles = "auto_compact_files"
    val AutoCompactBytes = "auto_compact_bytes"
    val RowHighWater = "row_high_water"
    val StreamHighWater = "stream_high_water"
  }

  /** Table-property keys that are engine state, not declaration: each is
    * owned by its own DDL (column declarations and mapping, constraints,
    * views, the ZORDER curve, the bloom index) or by the write path (the
    * high-water marks). Writing one directly skips its DDL's checks, so SQL
    * refuses them in SET / UNSET / CREATE and SHOW CREATE TABLE omits them. */
  val InternalKeys: Seq[String] = Seq(Key.Mv, Key.Bloom, Key.Fk, Key.ColMap, Key.ColDrop,
    Key.GenCol, Key.Check, Key.Identity, Key.NotNull, Key.ColDefault, Key.ZOrder,
    Key.PrimaryKey, Key.RowHighWater, Key.StreamHighWater)

  /** The [[InternalKeys]] entry `k` falls under, if any. */
  def internalKey(k: String): Option[String] =
    InternalKeys.find(p => if (p.endsWith(".")) k.startsWith(p) else k == p)

  /** The value checks of the typed table knobs, keyed by property name.
    * Their setters run them, and SQL runs them on a whole TBLPROPERTIES
    * bag before it changes anything. */
  def checkKnob(table: String, key: String, value: String): Unit = key match {
    case Key.DmlMode =>
      require(Set("cow", "mor")(value), s"dml mode must be cow or mor, got $value")
    case k if PositiveKnobs.contains(k) => positiveKnob(table, k, value)
    case Key.Isolation =>
      require(Set("writeserializable", "serializable")(value.toLowerCase),
        s"isolation must be writeserializable or serializable, got $value")
    case Key.RowTracking =>
      require(value.equalsIgnoreCase("true"),
        s"$table: row tracking can only be enabled ('true'), got $value")
    case _ =>
  }

  /** The positive-integer knobs and their upper bounds. */
  private val PositiveKnobs = Map(Key.TargetFileRows -> Long.MaxValue,
    Key.BloomNdv -> Long.MaxValue, Key.AutoCompactBytes -> Long.MaxValue,
    Key.AutoCompactFiles -> Int.MaxValue.toLong)

  /** A positive-integer knob's value: the one check that SET and the decode
    * of a stored value share. */
  def positiveKnob(table: String, key: String, value: String): Long =
    value.toLongOption.filter(n => n > 0 && n <= PositiveKnobs(key)).getOrElse(
      throw new IllegalArgumentException(
        s"$table: table property '$key' must be a positive integer, got '$value'"))

  /** The properties that persist a ZORDER curve ([[TableMeta.zorder]]). */
  def zorderProps(cols: Seq[String], bits: Int, bounds: Array[Array[Double]],
      base: Int): Map[String, String] = Map(Key.ZOrder + "cols" -> cols.mkString(","),
    Key.ZOrder + "bits" -> bits.toString,
    Key.ZOrder + "bounds" -> bounds.map(_.mkString(":")).mkString(";"),
    Key.ZOrderBase -> base.toString)

  /** The properties that persist a view definition ([[TableMeta.mvDefinition]]). */
  def mvProps(d: MvDef): Map[String, String] = Map(Key.Mv + "source" -> d.source,
    Key.Mv + "keys" -> d.keys.mkString(","),
    Key.Mv + "aggs" -> d.aggs.map { case (o, f, a) => s"$o:$f:$a" }.mkString(";"),
    Key.MvVersion -> d.version.toString)
}

/** A view's definition: source, keys, (out, fn, arg) aggregates, source version. */
final case class MvDef(source: String, keys: Seq[String],
    aggs: Seq[(String, String, String)], version: Int)

/** Per-file column statistics in canonical string form (numbers,
  * booleans, dates and timestamps as decimal strings; strings raw) —
  * comparable without re-reading the file. */
private[graft] final case class ColStats(min: String, max: String)

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
private[graft] final case class FileEntry(rel: String, stats: Map[String, ColStats],
    dvs: Seq[String] = Nil, rows: Long = -1L, base: Long = -1L,
    nulls: Map[String, Long] = Map.empty)

/** A version's write layout — partition, sort and stats columns in
  * physical names. It rides the version's manifest (`#layout`), so
  * every DML rewrite of that version keeps it and RESTORE, clones and
  * aborted writes agree on it; a manifest without the line has none. */
private[graft] final case class Layout(partitionBy: Seq[String] = Nil,
    sortWithin: Seq[String] = Nil, statsFor: Seq[String] = Nil)

/** One parse of one manifest: a table's whole state at `version` —
  * schema (physical names), files, write layout and the operation label
  * the version was committed with (`write`, `merge`, `restore`, …;
  * manifests written before operation tracking read as `write`). A
  * staged manifest parses to the same value under its slot number. */
private[graft] final case class Snapshot(version: Int, schema: StructType,
    entries: Seq[FileEntry], layout: Layout, op: String)

object TableLog {
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
    * [[TableLog]].cleanupOwnFailedLock (a strict prefix can never be
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
    * [[TableLog]].cleanupOwnFailedLock's "an empty or unreadable lock
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

  /** `Files.walk`/`Files.list` hold a directory handle until CLOSED —
    * every traversal of the store drains through these two helpers so a
    * long-lived driver (periodic vacuum, streaming commits) cannot leak
    * one fd per directory visited and die of "Too many open files" (the
    * `Scratch.deleteRecursively` lesson, applied store-wide). */
  private[tables] def walkAll(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private[tables] def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Delete `dir` and everything under it, bottom-up (no-op when absent):
    * an aborted stage, a dropped table, a failed deep clone. */
  private[tables] def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) walkAll(dir).sorted.reverse.foreach(Files.deleteIfExists(_))

  /** The non-blank lines of a line ledger (`_RETIRED`, `_COPY_LOADED`);
    * empty when it does not exist. */
  private[tables] def readLedger(file: Path): Seq[String] =
    if (!Files.exists(file)) Nil
    else Files.readAllLines(file, UTF_8).asScala.toSeq.filter(_.trim.nonEmpty)

  /** Union `lines` into a line ledger by atomic replace: idempotent, so a
    * crash between a fold and the deletes it licenses simply re-folds. */
  private[tables] def unionLedger(file: Path, lines: Seq[String]): Unit = {
    val tmp = file.resolveSibling(file.getFileName.toString + ".tmp")
    Files.write(tmp, (readLedger(file) ++ lines).distinct.sorted.mkString("\n").getBytes(UTF_8))
    Files.move(tmp, file, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)
  private def dec(s: String): String = URLDecoder.decode(s, UTF_8)
}

/** The table log of one store root: every file under a table directory
  * except the data, deletion-vector and `cdc/` files, plus the root's
  * transaction intents. [[TableStore]]'s commands reach a table's
  * committed state only through it ([[snapshot]], [[commit]],
  * [[txnCommit]], [[vacuum]]) — the split Delta makes between its
  * `DeltaLog`/`OptimisticTransaction` and its commands.
  *
  * On-disk layout: `root/<db>/<table>/v_<n>/` data directories plus a
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
  * Beside them: `_COMMIT_LOCK` (and its `.breaklock` sidecar) guards the
  * pointer, `_META` holds the table's [[TableMeta]] (whose companion
  * owns the property-key scheme; `_META` is written only under the commit
  * lock, through [[updateMeta]]), `_retired_v_<n>` markers and the
  * `_RETIRED` ledger record vacuumed versions, and `root/_txn_intents/`
  * journals multi-table publishes.
  *
  * Construction completes any multi-table publish that crashed midway
  * ([[recoverTxnIntents]]) before the log serves anything. */
final class TableLog(root: String) {
  import TableLog.{dec, enc, listDir, walkAll}

  private[tables] def tableDir(name: String): Path = {
    val parts = name.split('.')
    require(parts.length == 2, s"table name must be db.table, got $name")
    Paths.get(root, parts(0), parts(1))
  }

  /** The table's current committed version, read from the `_CURRENT`
    * pointer on every call (the optimistic-concurrency token for CAS
    * commits, and the fresh read every commit-lock check makes). */
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

  // ------------------------------------------------------------- manifests

  private def manifestPath(name: String, version: Int): Path =
    tableDir(name).resolve(s"v_$version").resolve("_MANIFEST")

  private def stagedManifestPath(name: String, version: Int): Path =
    tableDir(name).resolve(s"v_$version").resolve("_MANIFEST.staged")

  /** Manifests are STAGED under a temp name and atomically renamed to
    * `_MANIFEST` only inside the locked commit — every reader treats
    * manifest existence as "committed" (versions(), history, time travel,
    * the streaming exactly-once gate), so during the staging window
    * (arbitrarily long for transactions) uncommitted data must not be
    * reachable, and an in-flight `stream_append:<id>` label must not
    * advance the exactly-once gate before its commit is durable.
    * `snap.version` names the slot. */
  private[tables] def writeManifest(name: String, snap: Snapshot): Unit = {
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

  /** The live version's snapshot — the one place a missing table raises. */
  private[tables] def snapshot(name: String): Snapshot =
    snapshotAt(name, version(name).getOrElse(
      throw new IllegalArgumentException(s"table not found: $name")))

  /** A committed version's snapshot (time travel, history, the diffs). */
  private[tables] def snapshotAt(name: String, version: Int): Snapshot =
    parseManifest(manifestPath(name, version), version, s"manifest of $name v$version")

  /** A staged (not yet committed) version's snapshot. */
  private[tables] def stagedSnapshot(name: String, version: Int): Snapshot =
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

  /** A committed version's operation label, read from its manifest's first
    * two lines ([[writeManifest]] writes `#schema`, then `#op`) without
    * parsing the schema or the file entries. */
  private[tables] def opAt(name: String, version: Int): String = {
    val in = Files.newBufferedReader(manifestPath(name, version), UTF_8)
    try {
      in.readLine()
      Option(in.readLine()).filter(_.startsWith("#op\t"))
        .fold("write")(l => dec(l.stripPrefix("#op\t")))
    } finally in.close()
  }

  // --------------------------------------------------------------- commits

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

  /** The one place a write's version directory is allocated (a commit
    * renumbered past an interloper moves into a fresh slot, see
    * [[renumberStaged]]): claim `v_<next>` ([[allocateVersion]]) and run
    * `body` in it, outside any lock. The
    * body writes data, sidecars (`cdc/`, `dv/`, `copy_files`) and the
    * staged manifest, or returns false (nothing to commit). Returns the
    * slot; it is dropped when the body declines or fails. [[commit]] and
    * [[txnCommit]] publish it. */
  private[tables] def stage(name: String)(body: (Int, Path) => Boolean): Option[(Int, Path)] = {
    val (next, dir) = allocateVersion(name)
    try {
      if (body(next, dir)) Some((next, dir))
      else { TableLog.deleteTree(dir); None }
    } catch { case t: Throwable => TableLog.deleteTree(dir); throw t }
  }

  /** The single-table commit protocol — every commit outside multi-table
    * transactions publishes here, so this is the one place a table's
    * pointer moves alone (and the one place to instrument it).
    *
    *  1. [[stage]] `body` in a fresh `v_<next>`; when it declines,
    *     nothing is committed.
    *  2. Publish under the table's commit lock. Optimistic concurrency:
    *     with `expectedBase` set, the current version must still be the
    *     one the writer derived its changes from; if it moved, the commit
    *     is rebased onto it ([[tryRebase]]) or, on genuine conflict (or
    *     always, with `strictCas`), raises
    *     `ConcurrentModificationException` instead of clobbering the
    *     other writer (Delta's conflict-detection shape, reduced to one
    *     pointer). Without a base (plain replace) the commit still never
    *     moves the pointer backward: it renumbers past an interloper that
    *     claimed a higher number while it staged. Then [[publish]].
    *
    * Every reader treats manifest existence as "committed", so on any
    * failure the (possibly renumbered) directory is dropped — a losing
    * writer never surfaces as a phantom committed version through time
    * travel. Returns the published version, None when `body` declined. */
  private[tables] def commit(name: String, expectedBase: Option[Option[Int]] = None,
      strictCas: Boolean = false)(body: (Int, Path) => Boolean): Option[Int] =
    stage(name)(body).map { case (next, dir) =>
      var liveDir = dir // rebase may renumber (move) the staged directory
      try withCommitLock(name) {
        // one pointer read: only lock holders swap the pointer
        val cur = version(name)
        val finalV = expectedBase match {
          case Some(base) if cur != base =>
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
            if (cur.exists(_ >= next)) {
              val (v, d) = renumberStaged(name, stagedSnapshot(name, next))
              liveDir = d; v
            } else next
        }
        publish(name, finalV)
        finalV
      } catch { case t: Throwable => TableLog.deleteTree(liveDir); throw t }
    }

  /** Make staged version `v` the table's current one: promote its
    * manifest, then swap the pointer. Must run inside the table's commit
    * lock — the one publish step of single-table commits, multi-table
    * transactions and their crash recovery. */
  private def publish(name: String, v: Int): Unit = {
    promoteManifest(name, v)
    swapTo(name, v)
  }

  /** Commit a staged manifest: atomic rename to the name readers look for.
    * The mtime is refreshed so history and timestamp travel see the COMMIT
    * time, not the stage time — a transaction may stage long before it
    * swaps, and timestamp travel needs commit times monotone in the
    * version order. */
  private def promoteManifest(name: String, version: Int): Unit = {
    // row tracking: claim base row ids for this commit's NEW files here —
    // every commit path funnels through promoteManifest and holds the
    // table's commit lock, so the high-water claim is race-free (the
    // identity-column lesson applied from the start). Carried-over
    // entries keep their bases; a file without a footer row count stays
    // unassigned (its rows read a NULL id rather than a wrong one).
    val m = meta(name)
    if (m.rowTracking) {
      val staged = stagedSnapshot(name, version)
      if (staged.entries.exists(e => e.base < 0 && e.rows >= 0)) {
        var hw = m.rowHighWater
        val based = staged.entries.map { e =>
          if (e.base < 0 && e.rows >= 0) { val b = hw; hw += e.rows; e.copy(base = b) }
          else e
        }
        writeManifest(name, staged.copy(entries = based))
        writeMeta(name, m.withProperties(_ + (TableMeta.Key.RowHighWater -> hw.toString)))
      }
    }
    val committed = manifestPath(name, version)
    Files.move(stagedManifestPath(name, version), committed,
      StandardCopyOption.ATOMIC_MOVE)
    Files.setLastModifiedTime(committed,
      java.nio.file.attribute.FileTime.from(java.time.Instant.now()))
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
    * because a streaming micro-batch landed meanwhile. Under table
    * property `isolation` = `serializable` only blind appends rebase; any
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
    if (!hasVersion(name, baseV)) return None // base vacuumed
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
    if (meta(name).isolation.equalsIgnoreCase("serializable") && readSet.nonEmpty) return None
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
    (claimed, ndir)
  }

  // ----------------------------------------------------------- commit lock

  /** File-based commit mutex: held only for the pointer check+swap (the
    * expensive data writes happen outside it). Works cross-process on a
    * shared filesystem; an object-store deployment would use a
    * conditional PUT for the same window.
    *
    * The lock file records its holder ([[TableLog.writerToken]],
    * `host~pid_nanos`), and a waiter that finds the recorded holder
    * provably DEAD breaks the lock itself ([[deleteLockWhen]]) — so a
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
    * [[TableLog.sameHostPid]]. Not reentrant. */
  private def withCommitLock[T](name: String)(f: => T): T = {
    val lock = tableDir(name).resolve("_COMMIT_LOCK")
    val token = TableLog.writerToken()
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
        // break the lock of a holder that provably died inside the window
        holder.filter(TableLog.writerDead).foreach(h => deleteLockWhen(lock, _.contains(h)))
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

  /** Clean up this writer's own lock file after its token write failed.
    * The file is provably still ours, whatever it holds: a truncated
    * token either fails to parse (cut before the `_`) or parses to OUR
    * pid (cut inside the nanos — host and pid survive any such cut,
    * [[TableLog.sameHostPid]]), and we are alive, so no breaker can
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

  /** Serialized conditional lock delete: while holding the breaker
    * mutex, read the lock's holder ([[lockHolder]] — None for
    * gone/empty/unreadable) and delete the file iff `shouldDelete`
    * accepts it — a dead holder's token when breaking, our own partial
    * in [[cleanupOwnFailedLock]].
    *
    * The mutex is an OS advisory lock on a persistent sidecar
    * (`_COMMIT_LOCK.breaklock`) rather than a marker FILE: an advisory
    * lock cannot go stale — the OS releases it when its holder dies — so
    * there is no stale-marker cleanup and therefore no cleanup race that
    * could void the breakers' mutual exclusion. While one breaker holds
    * the sidecar no other breaker can delete the lock, and a writer can
    * never re-create a lock that still exists (CREATE_NEW), so the
    * re-verify makes verify-then-delete sound by construction: if the
    * path's token is still the one `shouldDelete` accepts, nothing can
    * change it before our delete. In-JVM breakers are additionally
    * serialized through [[TableLog.breakersActive]] — see its scaladoc —
    * and the sidecar file itself is NEVER deleted (unlinking a file
    * others hold advisory locks on would split the mutex across two
    * inodes). Never throws: a filesystem without advisory-lock support
    * simply cannot break locks, and the waiter falls through to the >6s
    * manual-remedy timeout. Returns true when the lock provably no
    * longer holds an accepted token (deleted by us, changed, or already
    * gone); false when the breaker mutex was busy/unavailable and
    * nothing could be verified. */
  private def deleteLockWhen(lock: Path,
      shouldDelete: Option[String] => Boolean): Boolean = {
    val sidecar = lock.resolveSibling(lock.getFileName.toString + ".breaklock")
    // normalized so two spellings of one root cannot bypass the in-JVM
    // guard (toRealPath would be stronger against symlinked roots but can
    // fail on a not-yet-created sidecar)
    val key = sidecar.toAbsolutePath.normalize.toString
    if (!TableLog.breakersActive.add(key)) return false // in-JVM breaker active
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
    } finally TableLog.breakersActive.remove(key)
  }

  // ---------------------------------------------------------- transactions

  /** Publish a multi-table transaction's staged versions — `(table,
    * version, dir, base)` — all or nothing: take the commit locks in
    * sorted name order (deadlock-free against other transactions doing
    * the same), verify every table is still at its `base`, journal the
    * intent, then [[publish]] each table. `onCommitBegan` runs once the
    * intent is durable (failures roll forward from there). */
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
          publish(name, v)
          i += 1
          if (i == crashAfterSwapsForTest)
            throw new IllegalStateException("simulated crash mid-publish")
        }
      } catch {
        case t: Throwable =>
          // the commit window is over (interrupted) — deregister so a
          // fresh attach IN THIS PROCESS can roll the publish forward
          TableLog.inflightTxnIntents.remove(intentId)
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
      finally TableLog.inflightTxnIntents.remove(intentId)
      ()
    }
  }

  /** Test seam: throw after N pointer swaps to simulate a crash
    * mid-publish (-1 = never). */
  private[tables] var crashAfterSwapsForTest: Int = -1

  private def txnIntentDir: Path = Paths.get(root, "_txn_intents")

  private def writeTxnIntent(tables: Seq[(String, Int)]): Path = {
    Files.createDirectories(txnIntentDir)
    val id = TableLog.writerToken()
    // registered BEFORE the file exists so a concurrent same-process
    // attach can never observe this healthy commit's intent unregistered
    TableLog.inflightTxnIntents.add(id)
    try {
      val tmp = txnIntentDir.resolve(s"intent.$id.tmp")
      Files.write(tmp, tables.map { case (n, v) => s"$n\t$v" }
        .mkString("\n").getBytes(UTF_8))
      val fin = txnIntentDir.resolve(s"intent.$id")
      Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE)
      fin
    } catch {
      case t: Throwable => TableLog.inflightTxnIntents.remove(id); throw t
    }
  }

  /** Complete transactions that crashed mid-publish: for every retained
    * intent, publish each listed table that is still behind its intended
    * version, then drop the intent. Runs at construction, before the
    * log serves anything. A table already at (or past) the intended
    * version is skipped — its swap happened before the crash.
    *
    * An intent file exists during every HEALTHY commit window too, so
    * recovery only touches what it can PROVE is a crash: intents of THIS
    * process are skipped while their commit is still in flight
    * ([[TableLog.inflightTxnIntents]]); intents of other SAME-HOST
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
    val intents = listDir(txnIntentDir).sortBy(_.getFileName.toString)
    val selfPid = ProcessHandle.current().pid()
    intents.filter(_.getFileName.toString.startsWith("intent.")).foreach { f =>
      val fn = f.getFileName.toString
      val tok = fn.stripPrefix("intent.").stripSuffix(".tmp")
      val isSelf = TableLog.sameHostPid(tok).contains(selfPid)
      val selfInFlight = isSelf && TableLog.inflightTxnIntents.contains(tok)
      // not ours to touch: a live commit window, or a writer whose
      // liveness cannot be proven from this host
      if (selfInFlight || (!isSelf && !TableLog.writerDead(tok))) ()
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
              if (Files.exists(stagedManifestPath(name, v))) publish(name, v)
              else if (hasVersion(name, v)) swapTo(name, v) // promoted before the crash
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

  // -------------------------------------------------------------- metadata

  /** The one write of the table's metadata: a read-modify-write under the
    * table's commit lock, so concurrent writers (and the identity and row-id
    * claims) never lose each other's change. `f` sees the metadata as of
    * the lock (checks that depend on it belong in `f`); returns its input. */
  def updateMeta(name: String)(f: TableMeta => TableMeta): TableMeta = {
    Files.createDirectories(tableDir(name))
    withCommitLock(name) {
      val prior = meta(name)
      writeMeta(name, f(prior))
      prior
    }
  }

  def setMeta(name: String, meta: TableMeta): Unit = updateMeta(name)(_ => meta)

  def updateProperties(name: String)(f: Map[String, String] => Map[String, String]): Unit =
    updateMeta(name)(_.withProperties(f))

  /** Replace `_META` (beside the snapshots, so it survives every swap) by a
    * temp file moved over it atomically: a concurrent [[meta]] never reads a
    * truncated file. Callers hold the commit lock. */
  private def writeMeta(name: String, meta: TableMeta): Unit = {
    val p = new java.util.Properties()
    meta.comment.foreach(p.setProperty("comment", _))
    meta.columnComments.foreach { case (c, v) => p.setProperty(s"col.$c", v) }
    meta.properties.foreach { case (k, v) => p.setProperty(s"prop.$k", v) }
    val dir = tableDir(name)
    val tmp = Files.createTempFile(dir, "_META.", ".tmp")
    try {
      val out = Files.newOutputStream(tmp)
      try p.store(out, null) finally out.close()
      Files.move(tmp, dir.resolve("_META"), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  def meta(name: String): TableMeta = {
    val p = new java.util.Properties()
    try {
      val in = Files.newInputStream(tableDir(name).resolve("_META"))
      try p.load(in) finally in.close()
    } catch { case _: java.nio.file.NoSuchFileException => return TableMeta() }
    val entries = p.asScala.toMap
    TableMeta(
      comment = entries.get("comment"),
      columnComments = entries.collect { case (k, v) if k.startsWith("col.") => k.stripPrefix("col.") -> v },
      properties = entries.collect { case (k, v) if k.startsWith("prop.") => k.stripPrefix("prop.") -> v })
  }

  // ------------------------------------------------------ history, retired

  /** All retained snapshot versions (those whose manifest survives),
    * oldest first. */
  def versions(name: String): Seq[Int] = {
    val dir = tableDir(name)
    if (!Files.exists(dir)) Seq.empty
    else listDir(dir).flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("v_") && Files.exists(p.resolve("_MANIFEST")))
        Some(n.stripPrefix("v_").toInt)
      else None
    }.sorted
  }

  /** Whether `v` is a COMMITTED version. Version numbers are monotone in
    * commit order but not contiguous: a rebased commit vacates the number
    * it originally staged under (see tryRebase), and vacuum retires old
    * ones — consumers walking history must skip the holes. */
  def hasVersion(name: String, v: Int): Boolean = Files.exists(manifestPath(name, v))

  /** A committed version's commit time: its manifest's mtime, which
    * [[promoteManifest]] sets at commit. */
  def commitTime(name: String, version: Int): java.time.Instant =
    Files.getLastModifiedTime(manifestPath(name, version)).toInstant

  /** The committed version immediately before `v` in commit order. */
  def prevVersion(name: String, v: Int): Option[Int] =
    versions(name).filter(_ < v).maxOption

  /** The `_retired_v_<n>` markers of `dir` with their versions. Numeric
    * suffixes only: a stray file matching the prefix (editor temp,
    * partial copy) must not hard-fail stream startup or changeFeed, and
    * is never folded or deleted either. */
  private def retiredMarkers(dir: Path): Seq[(Path, Int)] =
    listDir(dir).flatMap { p =>
      val n = p.getFileName.toString
      val suf = n.stripPrefix("_retired_v_")
      if (suf.length < n.length && suf.nonEmpty && suf.forall(_.isDigit)) Some(p -> suf.toInt)
      else None
    }

  /** The versions the `_RETIRED` ledger records. */
  private def retiredLedger(dir: Path): Seq[Int] =
    TableLog.readLedger(dir.resolve("_RETIRED")).map(_.trim.toInt)

  /** True when version `v` was a COMMITTED version that a vacuum has
    * since retired. Distinguishes real data loss from the benign
    * numbering holes rebases and aborted stages leave — a consumer
    * walking history must SKIP the latter but FAIL on the former.
    * Retirement is durable in two forms: the per-version `_retired_v_N`
    * marker written just before the manifest delete (crash-safe), and
    * the `_RETIRED` ledger each vacuum folds those markers into so the
    * directory listing stays O(live versions). */
  def wasRetired(name: String, v: Int): Boolean = !hasVersion(name, v) && (Files.exists(
    tableDir(name).resolve(s"_retired_v_$v")) || retiredLedger(tableDir(name)).contains(v))

  /** ALL retired versions of `name`, from one marker listing + one ledger
    * read — the set-membership form of [[wasRetired]] for callers that
    * would otherwise probe a RANGE of versions (the table-stream's
    * creation-commit check, changeFeed's window scan). A version still
    * holding its manifest is excluded (the marker-written-but-delete-
    * crashed window), matching [[wasRetired]] exactly. */
  def retiredVersions(name: String): Set[Int] = {
    val dir = tableDir(name)
    (retiredMarkers(dir).map(_._2) ++ retiredLedger(dir)).toSet.filterNot(hasVersion(name, _))
  }

  // ---------------------------------------------------------------- vacuum

  /** Drop every data file the retained manifests do not reference, and
    * every non-retained manifest (old versions stop being readable — the
    * Delta VACUUM trade). Retained = the current version plus every
    * committed version younger than `retainMs` (Delta's retention
    * window): their manifests, data files, DV and `cdc/` sidecars
    * survive, so time travel within the window keeps working.
    * Directories that still hold referenced files survive; emptied
    * version directories are removed.
    *
    * Runs under the table's commit lock so the pointer cannot move
    * mid-sweep, and SKIPS in-flight stages: a `v_N` directory without a
    * committed `_MANIFEST` belongs to a writer between staging and its
    * locked publish (arbitrarily long during transactions) — deleting
    * its files would let that writer pass its conflict check and swap
    * `_CURRENT` to a gutted directory. Manifests are only promoted under
    * the same lock, so the distinction is race-free. Stages older than
    * `staleStagingMs` are treated as crashed writers and removed —
    * Delta's retention-gate shape.
    *
    * `foldBeforeRetire` runs first, under the lock, with every committed
    * snapshot in version order: markers that live in manifests or
    * version directories this vacuum may retire (the streaming and MV
    * high-water marks, COPY INTO ledgers) are persisted — the metadata
    * change it returns is written here, under the same lock. It must not
    * take the commit lock. */
  private[tables] def vacuum(name: String, staleStagingMs: Long, retainMs: Long)(
      foldBeforeRetire: Seq[Snapshot] => TableMeta => TableMeta): Unit = {
    if (version(name).isEmpty) return
    withCommitLock(name) {
      // the pointer and the version set are read under the lock: read
      // before it, a commit landing in between would be in neither the
      // kept version nor `retained`, and its files would be swept while
      // `_CURRENT` names it
      val keepVersion = version(name)
      // every committed manifest, parsed once for the fold and the
      // referenced-file set
      val parsed = versions(name).map(snapshotAt(name, _))
      val prior = meta(name)
      val m = foldBeforeRetire(parsed)(prior)
      if (m != prior) writeMeta(name, m)
      val now = System.currentTimeMillis()
      val retained: Set[Int] = parsed.map(_.version).filter { v =>
        keepVersion.contains(v) ||
          (retainMs > 0 && now - commitTime(name, v).toEpochMilli <= retainMs)
      }.toSet
      val dir = tableDir(name)
      val retainedEntries = parsed.filter(s => retained(s.version)).flatMap(_.entries)
      val referenced = retainedEntries
        .map(e => dir.resolve(e.rel).toAbsolutePath.normalize).toSet
      // deletion-vector sidecars are parquet DIRECTORIES — everything under
      // a referenced DV dir stays
      val dvDirs = retainedEntries.flatMap(_.dvs).distinct
        .map(d => dir.resolve(d).toAbsolutePath.normalize)
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
      // `_RETIRED` ledger. The markers stay crash-safe: one is created
      // just before each manifest delete, and a crash anywhere before
      // this fold leaves it in place for the next vacuum to fold.
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
      val markers = retiredMarkers(dir)
      if (markers.nonEmpty) {
        TableLog.unionLedger(dir.resolve("_RETIRED"), markers.map(_._2.toString))
        if (!m.properties.get("graft.vacuum.keepRetiredMarkers")
            .exists(_.equalsIgnoreCase("true")))
          markers.foreach(m => Files.deleteIfExists(m._1))
      }
    }
  }

  // Complete any transaction that crashed mid-publish BEFORE this log
  // serves anything — the intent journal's roll-forward half (txnCommit).
  // Runs LAST in the constructor so every field above is initialized.
  recoverTxnIntents()
}
