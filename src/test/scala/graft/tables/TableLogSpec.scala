package graft.tables

import java.nio.file.{Files, Path, Paths}
import java.util.ConcurrentModificationException
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The table log on its own, with no SparkSession: writers commit
  * manifest-only versions through [[TableLog.commit]] — some with a CAS
  * base, some blind — beside a looping `vacuum(retainMs = 0)` and a
  * looping restore of the current version. Every committed version is
  * replayed in version order against a sequential model, whose ops are
  * the commits' labels:
  *  - `add:<f>` (CAS) appends file `f` to its predecessor;
  *  - `del:<f>` (CAS) removes `f`, which its predecessor must hold;
  *  - `replace:<f>` (blind) leaves exactly `f`;
  *  - `restore:<v>` (blind) equals version `v`.
  * Vacuum reports every committed snapshot to its fold before retiring
  * any, so each committed version's entries are observed exactly once
  * they are final. */
class TableLogSpec extends AnyFunSuite {

  private val schema = StructType(Seq(StructField("k", LongType)))
  private val name = "db.t"

  private def deleteAll(root: Path): Unit = TableLog.deleteTree(root)

  test("concurrent CAS and blind commits, vacuum and restore replay to a sequential model") {
    val root = Files.createTempDirectory("graft_table_log")
    val log = new TableLog(root.toString)
    try {
      val committed = new ConcurrentHashMap[Int, String]() // version -> op label
      val observed = new ConcurrentHashMap[Int, Seq[String]]() // version -> entries
      def commitOp(base: Option[Snapshot], entries: Seq[String], op: String): Unit =
        log.commit(name, base.map(b => Some(b.version))) { (v, _) =>
          log.writeManifest(name, Snapshot(v, schema,
            entries.map(FileEntry(_, Map.empty)), Layout(), op))
          true
        }.foreach(v => committed.put(v, op))
      commitOp(None, Nil, "replace:")
      def observe(snaps: Seq[Snapshot]): Unit =
        snaps.foreach(s => observed.put(s.version, s.entries.map(_.rel)))

      val writersLeft = new AtomicInteger(4)
      val done = new AtomicBoolean(false)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val conflicts = new AtomicInteger(0)
      def thread(body: => Unit): Thread = {
        val t = new Thread(() =>
          try body catch { case e: Throwable => failures.add(e.toString); done.set(true) })
        t.start(); t
      }
      // a version read just before a commit and a vacuum retire it is gone
      def current(): Option[Snapshot] =
        try Some(log.snapshot(name)) catch { case _: java.nio.file.NoSuchFileException => None }

      val writers = (0 until 4).map { w =>
        thread {
          val rnd = new scala.util.Random(w)
          try (0 until 25).foreach { i =>
            val f = s"f_${w}_$i"
            current().foreach { base =>
              val rels = base.entries.map(_.rel)
              try rnd.nextInt(5) match {
                case 0 | 1 => commitOp(Some(base), rels :+ f, s"add:$f")
                case 2 | 3 if rels.nonEmpty =>
                  val gone = rels(rnd.nextInt(rels.size))
                  commitOp(Some(base), rels.filterNot(_ == gone), s"del:$gone")
                case _ => commitOp(None, Seq(f), s"replace:$f")
              } catch { case _: ConcurrentModificationException => conflicts.incrementAndGet() }
            }
            Thread.sleep(1)
          } finally if (writersLeft.decrementAndGet() == 0) done.set(true)
        }
      }
      val vacuums = thread {
        while (!done.get) { log.vacuum(name, 24L * 3600 * 1000, 0L)(observe); Thread.sleep(3) }
      }
      val restores = thread {
        while (!done.get) {
          log.version(name).foreach { v =>
            try {
              val snap = log.snapshotAt(name, v)
              log.commit(name) { (next, _) =>
                log.writeManifest(name, snap.copy(version = next, op = s"restore:$v")); true
              }.foreach(n => committed.put(n, s"restore:$v"))
            } catch { case _: java.nio.file.NoSuchFileException => () }
          }
          Thread.sleep(4)
        }
      }
      val backward = new AtomicInteger(0)
      val pointer = thread {
        var last = 0
        while (!done.get) {
          val v = log.version(name).getOrElse(0)
          if (v < last) backward.incrementAndGet()
          last = math.max(last, v)
          Thread.`yield`()
        }
      }
      (writers :+ vacuums :+ restores :+ pointer).foreach(_.join(60000))
      assert(failures.isEmpty, failures.asScala.mkString("; "))
      assert(backward.get == 0, "the pointer moved backward")

      val dir = log.tableDir(name)
      val versionDirs = TableLog.listDir(dir).filter(_.getFileName.toString.startsWith("v_"))
      assert(versionDirs.forall(d => Files.exists(d.resolve("_MANIFEST"))),
        s"uncommitted version directories survived: ${versionDirs.filterNot(d =>
          Files.exists(d.resolve("_MANIFEST")))}")
      assert(!Files.exists(dir.resolve("_COMMIT_LOCK")), "a commit lock survived")

      // the last vacuum reports what the earlier ones did not retire
      log.vacuum(name, 24L * 3600 * 1000, 0L)(observe)
      val ops = committed.asScala.toSeq.sortBy(_._1)
      assert(observed.keySet.asScala.toSet == ops.map(_._1).toSet,
        "every committed version, and only those, is observed")
      val model = scala.collection.mutable.Map.empty[Int, Seq[String]]
      var prev = Seq.empty[String]
      ops.foreach { case (v, op) =>
        val (kind, arg) = op.splitAt(op.indexOf(':'))
        val f = arg.drop(1)
        prev = kind match {
          case "add" => prev :+ f
          case "del" =>
            assert(prev.contains(f), s"v$v deleted $f, which its predecessor lacks")
            prev.filterNot(_ == f)
          case "replace" => Seq(f).filter(_.nonEmpty)
          case "restore" => model(f.toInt)
        }
        model(v) = prev
        assert(observed.get(v) == prev, s"v$v ($op) holds ${observed.get(v)}, model $prev")
      }
      assert(log.version(name).contains(ops.last._1))
      assert(ops.size > 20 && ops.exists(_._2.startsWith("restore:")),
        s"the schedule exercised too little: ${ops.size} commits, ${conflicts.get} conflicts")
    } finally deleteAll(root)
  }

  test("a staged manifest declined by its stage body leaves no version directory") {
    val root = Files.createTempDirectory("graft_table_log_decline")
    val log = new TableLog(root.toString)
    try {
      assert(log.commit(name) { (v, _) =>
        log.writeManifest(name, Snapshot(v, schema, Nil, Layout(), "write")); false
      }.isEmpty)
      assert(log.version(name).isEmpty && !Files.exists(Paths.get(root.toString, "db", "t", "v_1")))
    } finally deleteAll(root)
  }
}
