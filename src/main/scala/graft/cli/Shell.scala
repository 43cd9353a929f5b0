package graft.cli

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Cols.{q => Q}
import graft.core.SnapshotStore
import graft.ops.{CsvExport, CsvExportConfig}

/** Shell-style introspection over a snapshot store — the reference's daily
  * drivers `ax ds` / `ax cat` / `ax grep` / `ax job` / `ax urd`
  * (shell/ds.py:54-160, shell/grep.py:40-300), reshaped for the snapshot
  * model:
  *
  *   graft.cli.Shell ds   <storeRoot> <name>            — schema/lines/minmax
  *   graft.cli.Shell cat  <storeRoot> <name> [col ...]  — rows as CSV
  *   graft.cli.Shell grep <storeRoot> <regex> <name> [col ...]
  *   graft.cli.Shell job  <jobsRoot> <jobid>            — setup/post/artifacts
  *   graft.cli.Shell urd  <urdLog> [key [timestamp]]    — timeline listing
  *   graft.cli.Shell workdir <storeRoot>                — all snapshots
  *   graft.cli.Shell method  <jobsRoot>                 — methods seen + versions
  *   graft.cli.Shell script  <package> [match ...]      — list build scripts
  *   graft.cli.Shell script -r <pkg.Object> [args ...]  — launch one by name
  *   graft.cli.Shell curl    <urdLog> <path>            — urd API paths as JSON
  *
  * `cat`/`grep` accept `-c N` (chain length, like the reference's ~N
  * chain-walk refs) and `-n N` (row limit), plus the reference grep's
  * daily-driver flags (shell/grep.py:45-57):
  *   -i         case-insensitive pattern
  *   -O         ordered output — by the dataset's explicit order column
  *              (lineno / __rowid; Spark has no positional row identity,
  *              SURVEY §7.4, so order is a column or an error)
  *   -s N       only slice N (repeatable) — with bucketed hashed
  *              snapshots, slice == bucket, so this inspects one bucket
  *   -g COL     match only COL (repeatable) while showing all selected
  *   -f FMT     output format: csv (default) | raw (no quoting) | json
  *   -t SEP     field separator (default ",")
  * grep matches the regex against every selected column (reference
  * default) via a codegen'd rlike filter — at scale this is a full
  * distributed scan+filter, not a driver loop.
  */
object Shell {

  final case class Args(
      store: String, name: String, columns: Seq[String],
      pattern: String = "", limit: Int = -1, chain: Int = 1,
      ignoreCase: Boolean = false, ordered: Boolean = false,
      slices: Seq[Int] = Nil, grepCols: Seq[String] = Nil,
      format: String = "csv", fieldSep: String = ",")

  private def parse(rest: List[String], withPattern: Boolean): Args = {
    var limit = -1
    var chain = 1
    var ignoreCase = false
    var ordered = false
    var slices = List.empty[Int]
    var grepCols = List.empty[String]
    var format = "csv"
    var fieldSep = ","
    var pos = List.empty[String]
    var xs = rest
    while (xs.nonEmpty) xs match {
      case "-n" :: v :: t => limit = v.toInt; xs = t
      case "-c" :: v :: t => chain = v.toInt; xs = t
      case "-i" :: t      => ignoreCase = true; xs = t
      case "-O" :: t      => ordered = true; xs = t
      case "-s" :: v :: t => slices = slices :+ v.toInt; xs = t
      case "-g" :: v :: t => grepCols = grepCols :+ v; xs = t
      case "-f" :: v :: t =>
        require(Seq("csv", "raw", "json").contains(v), s"unknown format $v (csv|raw|json)")
        format = v; xs = t
      case "-t" :: v :: t => fieldSep = v; xs = t
      case v :: t         => pos = pos :+ v; xs = t
      case Nil            =>
    }
    if (withPattern) {
      require(pos.size >= 3, "usage: grep <storeRoot> <regex> <name> [col ...]")
      Args(pos(0), pos(2), pos.drop(3), pattern = pos(1), limit = limit, chain = chain,
        ignoreCase = ignoreCase, ordered = ordered, slices = slices,
        grepCols = grepCols, format = format, fieldSep = fieldSep)
    } else {
      require(pos.size >= 2, "usage: <storeRoot> <name> [col ...]")
      Args(pos(0), pos(1), pos.drop(2), limit = limit, chain = chain,
        ignoreCase = ignoreCase, ordered = ordered, slices = slices,
        grepCols = grepCols, format = format, fieldSep = fieldSep)
    }
  }

  /** Dataset ref idioms from the reference's shell parser
    * (shell/parser.py name2ds): `name~` / `name~N` walk N steps down the
    * `previous` chain; `name^` goes to the parent dataset. Operators
    * compose left-to-right: `a~2^`.
    */
  def resolveRef(store: SnapshotStore, ref: String): String = {
    val m = "^([^~^]+)((?:~\\d*|\\^)*)$".r
    ref match {
      case m(base, ops) =>
        var cur = base
        val it = "~\\d*|\\^".r.findAllIn(ops)
        it.foreach {
          case "^" =>
            cur = store.get(cur).meta.parent.getOrElse(
              sys.error(s"$cur has no parent"))
          case tilde =>
            val n = tilde.stripPrefix("~") match {
              case "" => 1
              case d  => d.toInt
            }
            (0 until n).foreach { _ =>
              cur = store.get(cur).meta.previous.getOrElse(
                sys.error(s"$cur has no previous"))
            }
        }
        cur
      case _ => ref
    }
  }

  def dsInfo(store: SnapshotStore, name: String): String = {
    val s = store.get(name)
    val b = new StringBuilder
    b ++= s"${s.meta.name}\n"
    val chain = store.chain(name)
    b ++= f"    lines     ${s.meta.lines}%,d (chain: ${chain.map(_.meta.lines).sum}%,d in ${chain.size} datasets)\n"
    b ++= s"    slices    ${s.meta.slices}\n"
    s.meta.hashlabel.foreach(h => b ++= s"    hashlabel $h\n")
    s.meta.previous.foreach(p => b ++= s"    previous  $p\n")
    s.meta.parent.foreach(p => b ++= s"    parent    $p\n")
    b ++= s"    columns (${s.meta.columns.size}):\n"
    s.meta.columns.foreach { c =>
      val mm = (c.min, c.max) match {
        case (Some(mn), Some(mx)) => s"  [$mn .. $mx]"
        case _ => ""
      }
      b ++= f"        ${c.name}%-24s ${c.refType}%-12s$mm\n"
    }
    b.toString
  }

  /** The dataset's explicit order column — Spark rows have no positional
    * identity (SURVEY §7.4), so `-O` needs a stored order: the import
    * lineno or a withRowId rowid.
    */
  private def orderColumn(df: DataFrame): org.apache.spark.sql.Column =
    Seq("lineno", SnapshotStore.RowIdName).find(df.columns.contains).map(Q)
      .getOrElse(sys.error("-O: dataset has no order column (lineno/" +
        s"${SnapshotStore.RowIdName}) — import with linenoLabel or write from withRowId"))

  /** Stored slice of a row, derived from the file it lives in — NOT
    * spark_partition_id(), which reflects read-time split packing (small
    * files merge into one scan partition, bucketed scans may be disabled
    * when nothing downstream needs the partitioning) and so can diverge
    * arbitrarily from the on-disk slicing. The writer emits one file per
    * slice: bucketed stores carry the bucket id as the `_NNNNN.cNNN`
    * suffix, plain stores the write-task id as the `part-NNNNN-` prefix.
    */
  private def sliceId: org.apache.spark.sql.Column = {
    val f = input_file_name()
    val bucket = regexp_extract(f, "_(\\d+)\\.c\\d+", 1)
    when(bucket =!= "", bucket.cast("int"))
      .otherwise(regexp_extract(f, "part-(\\d+)-", 1).cast("int"))
  }

  /** Base frame before any match filter: chain walk, slice selection,
    * ordering. Projection happens in `projected` AFTER any grep filter so
    * `-g` can match on columns that are not displayed.
    */
  private def baseDf(store: SnapshotStore, a: Args): DataFrame = {
    val name = resolveRef(store, a.name)
    val df0 = if (a.chain == 1) store.readResolved(name)
              else store.iterateChain(name, length = a.chain)
    val df1 =
      if (a.slices.isEmpty) df0
      else df0.filter(sliceId.isin(a.slices.map(Integer.valueOf): _*))
    // sort BEFORE projecting — the order column need not be displayed
    if (a.ordered) df1.orderBy(orderColumn(df1)) else df1
  }

  private def projected(df: DataFrame, a: Args): DataFrame =
    if (a.columns.nonEmpty) df.select(a.columns.map(Q): _*) else df

  /** Rows of (a chain of) a snapshot, optionally projected/limited. */
  def catDf(store: SnapshotStore, a: Args): DataFrame = {
    val df = projected(baseDf(store, a), a)
    if (a.limit >= 0) df.limit(a.limit) else df
  }

  /** grep: keep rows where ANY matched column matches the regex (all
    * selected columns by default; `-g` restricts matching without
    * restricting display — the match columns need not be displayed —
    * `-i` prepends (?i)).
    */
  def grepDf(store: SnapshotStore, a: Args): DataFrame = {
    val df = baseDf(store, a) // unprojected: -g may match hidden columns
    val cols =
      if (a.grepCols.nonEmpty) {
        val missing = a.grepCols.filterNot(df.columns.contains)
        require(missing.isEmpty, s"grep -g: no such columns $missing")
        a.grepCols
      } else if (a.columns.nonEmpty) a.columns
      else df.columns.toSeq
    val pat = if (a.ignoreCase) "(?i)" + a.pattern else a.pattern
    val hit = cols.map(c => coalesce(Q(c).cast("string"), lit("")).rlike(pat))
      .reduce(_ || _)
    val out = projected(df.filter(hit), a)
    if (a.limit >= 0) out.limit(a.limit) else out
  }

  /** Job introspection (reference `ax job`): the request that built it,
    * its outputs, and its artifacts.
    */
  def jobInfo(jobsRoot: String, jobid: String): String = {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(jobsRoot, jobid)
    require(Files.exists(dir.resolve("setup.json")), s"no such job $jobid")
    val b = new StringBuilder
    b ++= s"$jobid\n"
    b ++= s"    setup     ${Files.readString(dir.resolve("setup.json"))}\n"
    if (Files.exists(dir.resolve("post.json")))
      b ++= s"    post      ${Files.readString(dir.resolve("post.json"))}\n"
    else b ++= "    post      (unfinished)\n"
    import scala.jdk.CollectionConverters._
    val arts = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("artifact_")).map(_.stripPrefix("artifact_")).toSeq.sorted
    if (arts.nonEmpty) b ++= s"    artifacts ${arts.mkString(", ")}\n"
    b.toString
  }

  /** Urd timeline listing (reference `ax urd`): all keys, one key's
    * timestamps, or one entry's joblist.
    */
  def urdInfo(urdLog: String, key: Option[String], timestamp: Option[String]): String = {
    val u = new graft.jobs.Urd(urdLog)
    (key, timestamp) match {
      case (None, _) =>
        u.keys.map(k => s"$k  (${u.timestamps(k).size} entries)").mkString("\n") + "\n"
      case (Some(k), None) =>
        u.timestamps(k).map { t =>
          val e = u.get(k, t).get
          s"$t  ${e.joblist.map { case (n, j) => s"$n=$j" }.mkString(", ")}"
        }.mkString("\n") + "\n"
      case (Some(k), Some(t)) =>
        u.get(k, t) match {
          case Some(e) =>
            e.joblist.map { case (n, j) => s"$n  $j" }.mkString("\n") + "\n"
          case None => s"no entry at $t\n"
        }
    }
  }

  /** Workdir listing (reference `ax workdir`, shell/workdir.py: everything
    * a workdir contains): one line per snapshot with lines / column count /
    * hashlabel / chain link.
    */
  def workdirInfo(store: SnapshotStore): String = {
    val b = new StringBuilder
    store.list().foreach { n =>
      val m = store.get(n).meta
      val hl = m.hashlabel.map(h => s" hash=$h").getOrElse("")
      val pv = m.previous.map(p => s" previous=$p").getOrElse("")
      b ++= f"$n%-28s ${m.lines}%10d lines  ${m.columns.size}%3d cols$hl$pv\n"
    }
    b.toString
  }

  /** Method listing (reference `ax method`, shell/method.py: available
    * methods + docs): distinct methods across the jobs root with job
    * counts and the versions seen. Ours lists what has RUN (the compiled
    * operator set has no source dir to enumerate — documented deviation).
    */
  def methodInfo(jobsRoot: String): String = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(jobsRoot)
    require(Files.isDirectory(root), s"no such jobs root $jobsRoot")
    val rows = Files.list(root).iterator().asScala
      .filter(p => Files.exists(p.resolve("setup.json"))).toSeq
      .map { p =>
        val m = graft.core.JsonLite.parse(Files.readString(p.resolve("setup.json")))
          .asInstanceOf[Map[String, Any]]
        (m.getOrElse("method", "?").toString, m.getOrElse("version", "?").toString)
      }
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (meth, vs) =>
      f"$meth%-28s ${vs.size}%4d jobs  versions ${vs.map(_._2).distinct.sorted.mkString(",")}"
    }.mkString("\n") + "\n"
  }

  /** `ax curl` analog (reference shell/curl.py + the urd server's GET
    * routes, urd.py:431-512). The reference shells out to curl against the
    * urd daemon's HTTP API; there is no daemon here (SURVEY §2.6 — builds
    * are synchronous in-process), so the same RESOURCE PATHS are answered
    * locally with the same JSON response shapes:
    *
    *   list                          → sorted keys
    *   <user>/<build>/latest|first   → entry
    *   <user>/<build>/since/<ts>     → timestamps after <ts>
    *   <user>/<build>/<ts>           → exact entry; with a </<=/>/>=
    *                                   prefix, the bounded lookup
    *                                   (closest entry within the bound)
    */
  def curlInfo(urdLog: String, path: String): String = {
    val u = new graft.jobs.Urd(urdLog)
    def entry(e: Option[graft.jobs.UrdEntry]): String =
      e.map(u.entryJson).getOrElse("null")
    path.split("/").toList match {
      case "list" :: Nil =>
        u.keys.map(u.jsonString).mkString("[", ",", "]") + "\n"
      case user :: build :: "latest" :: Nil =>
        entry(u.latest(s"$user/$build")) + "\n"
      case user :: build :: "first" :: Nil =>
        entry(u.first(s"$user/$build")) + "\n"
      case user :: build :: "since" :: ts :: Nil =>
        u.since(s"$user/$build", ts).map(e => u.jsonString(e.timestamp))
          .mkString("[", ",", "]") + "\n"
      case user :: build :: ts :: Nil =>
        val key = s"$user/$build"
        val m = "^(<=|>=|<|>)(.+)$".r
        (ts match {
          case m(op, t) => entry(u.bounded(key, op, t))
          case t        => entry(u.get(key, t))
        }) + "\n"
      case _ => throw new IllegalArgumentException(
        s"curl: unknown path '$path' (list | user/build/latest|first | " +
          "user/build/since/<ts> | user/build/<ts> with optional </<=/>/>= prefix)")
    }
  }

  /** Build-script discovery (reference `ax script`, shell/script.py:34-77:
    * lists `build.py` / `build_*.py` per method package with their
    * `description` attributes, filtered by substring). Ours are compiled
    * Scala mains, so "scripts in a package" means OBJECTS named `Build` or
    * `Build_*` on the classpath — found by enumerating the package's
    * classfile resources (dir or jar), never by instantiating anything
    * else in the package. The description is the object's parameterless
    * `description` member when present, mirroring the reference's
    * module-level `description`.
    */
  private def buildObjectsIn(pkg: String): Seq[(String, Class[_])] = {
    import scala.jdk.CollectionConverters._
    val path = pkg.replace('.', '/')
    val cl = Thread.currentThread.getContextClassLoader
    val names = cl.getResources(path).asScala.flatMap { url =>
      url.getProtocol match {
        case "file" =>
          val d = new java.io.File(url.toURI)
          Option(d.listFiles()).toSeq.flatten.map(_.getName)
            .filter(_.endsWith(".class"))
        case "jar" =>
          val conn = url.openConnection().asInstanceOf[java.net.JarURLConnection]
          conn.getJarFile.entries().asScala.map(_.getName)
            .filter(n => n.startsWith(path + "/") && n.endsWith(".class"))
            .map(_.substring(path.length + 1))
            .filter(!_.contains("/")).toSeq
        case _ => Nil
      }
    }.map(_.stripSuffix(".class")).toSeq.distinct
    // a Scala `object Build_x` compiles to class `Build_x$` with MODULE$
    names.filter { n =>
      n.endsWith("$") && !n.dropRight(1).contains("$") && {
        val s = n.stripSuffix("$"); s == "Build" || s.startsWith("Build_")
      }
    }.sorted.flatMap { n =>
      try Some((n.stripSuffix("$"), Class.forName(s"$pkg.$n", false, cl)))
      catch { case _: Throwable => None }
    }
  }

  private def moduleOf(cls: Class[_]): AnyRef =
    cls.getField("MODULE$").get(null)

  private def descriptionOf(cls: Class[_]): String =
    try cls.getMethod("description").invoke(moduleOf(cls)).toString
    catch { case _: Throwable => "" }

  /** List build scripts in `pkg`, optionally filtered by substring match
    * on the fully-qualified name (reference: `ax script [match ...]`).
    */
  def scriptInfo(pkg: String, matches: Seq[String] = Nil): String = {
    val found = buildObjectsIn(pkg).filter { case (n, _) =>
      matches.isEmpty || matches.exists(m => s"$pkg.$n".contains(m))
    }
    if (found.isEmpty) s"$pkg: no build scripts\n"
    else s"$pkg\n" + found.map { case (n, cls) =>
      val d = descriptionOf(cls)
      if (d.nonEmpty) f"    $n%-24s $d\n" else s"    $n\n"
    }.mkString
  }

  /** Launch a build script by fully-qualified object name: invokes the
    * object's `main(Array[String])` with the remaining args. The listing
    * half of `ax script` plus the launch half of `ax run` — build scripts
    * are compiled mains here (SURVEY §2.6), not sourced .py files.
    */
  def scriptLaunch(fqcn: String, args: Array[String]): Unit = {
    val cls = Class.forName(fqcn + "$", true,
      Thread.currentThread.getContextClassLoader)
    val mod = moduleOf(cls)
    cls.getMethod("main", classOf[Array[String]])
      .invoke(mod, args.asInstanceOf[AnyRef])
    ()
  }

  private def printRows(df: DataFrame, a: Args): Unit = {
    // toLocalIterator streams one partition at a time to the driver — an
    // unlimited `ax grep` over a big store never materializes every match
    // in driver memory (the reference streams per-slice the same way).
    val rendered = a.format match {
      case "json" =>
        df.select(to_json(struct(df.columns.toIndexedSeq.map(Q): _*)).as("line"))
      case fmt =>
        println(df.columns.mkString(a.fieldSep))
        CsvExport.render(df, CsvExportConfig(
          separator = a.fieldSep,
          quoteMode = if (fmt == "raw") "off" else "lazy"))
    }
    rendered.toLocalIterator().forEachRemaining(r => println(r.getString(0)))
  }

  def main(argv: Array[String]): Unit = {
    require(argv.nonEmpty, "usage: Shell ds|cat|grep ...")
    // SPARK_MASTER points the shell at a deployment's cluster
    val spark = graft.core.SessionTuning.local(4,
      sys.env.get("SPARK_MASTER").map("spark.master" -> _).toSeq: _*)
    spark.sparkContext.setLogLevel("ERROR")
    try argv(0) match {
      case "ds" =>
        val a = parse(argv.toList.tail, withPattern = false)
        val st = new SnapshotStore(spark, a.store)
        print(dsInfo(st, resolveRef(st, a.name)))
      case "cat" =>
        val a = parse(argv.toList.tail, withPattern = false)
        printRows(catDf(new SnapshotStore(spark, a.store), a), a)
      case "grep" =>
        val a = parse(argv.toList.tail, withPattern = true)
        printRows(grepDf(new SnapshotStore(spark, a.store), a), a)
      case "job" =>
        print(jobInfo(argv(1), argv(2)))
      case "urd" =>
        print(urdInfo(argv(1), argv.lift(2), argv.lift(3)))
      case "workdir" =>
        print(workdirInfo(new SnapshotStore(spark, argv(1))))
      case "method" =>
        print(methodInfo(argv(1)))
      case "init" =>
        print(init(argv(1), argv.lift(2).map(_.toInt)
          .getOrElse(spark.sparkContext.defaultParallelism)))
      case "script" =>
        if (argv.lift(1).contains("-r")) scriptLaunch(argv(2), argv.drop(3))
        else print(scriptInfo(argv(1), argv.drop(2).toSeq))
      case "curl" =>
        print(curlInfo(argv(1), argv(2)))
      case other =>
        sys.error(s"unknown subcommand $other (ds|cat|grep|job|urd|workdir|method|init|script|curl)")
    } finally spark.stop()
  }

  /** `graft.cli.Shell init <root> [slices]` — scaffold a project root the
    * way the reference's `ax init` scaffolds a workdir (shell/init.py):
    * store/ + jobs/ + an empty urd log + a conf recording the default
    * slice count. Idempotent: re-running on an initialized root only
    * reports it. (The reference also writes an example METHOD; ours are
    * compiled Scala — SURVEY §2.4 documented deviation — so the conf
    * points at the entry points instead.)
    */
  def init(root: String, slices: Int): String = {
    import java.nio.file.{Files, Paths}
    val r = Paths.get(root)
    val conf = r.resolve("graft.conf")
    if (Files.exists(conf))
      s"already initialized: $conf\n"
    else {
      Files.createDirectories(r.resolve("store"))
      Files.createDirectories(r.resolve("jobs"))
      val urd = r.resolve("urd.log")
      if (!Files.exists(urd)) Files.createFile(urd)
      Files.writeString(conf,
        s"""# graft project root (created by `Shell init`)
           |slices = $slices
           |store = store
           |jobs = jobs
           |urd = urd.log
           |# entry points: graft.cli.Shell ds|cat|grep|job|urd|workdir|method
           |# build scripts are compiled Scala: see graft.jobs.JobRunner
           |""".stripMargin)
      s"initialized $root (slices=$slices): store/ jobs/ urd.log graft.conf\n"
    }
  }
}
