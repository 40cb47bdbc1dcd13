package graft.sink

import java.io.File
import java.nio.charset.StandardCharsets

import scala.sys.process._

/** Git commit sink (SURVEY.md §2.1 S9/S10): repo init/validate plus one
  * commit per micro-batch — the scalable re-design of the reference's
  * commit-per-issue loop (reference: pkg/git/git.go:61-119 init/validate,
  * :214-287 CommitIssueFile; per-batch rationale SURVEY.md §4.2).
  *
  * Driver-side by design: a git repository is a single serialized resource,
  * so the sink runs in `foreachBatch` after the distributed file write —
  * executors write YAML in parallel, the driver commits once. Identity is
  * passed per-invocation with `-c` flags; no global git config is touched.
  */
object GitRepo {

  private def run(dir: File, args: String*): (Int, String) = {
    val out = new StringBuilder
    val logger = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    val code = Process("git" +: args.toSeq, dir).!(logger)
    (code, out.result())
  }

  /** Run git with stdin produced incrementally by `write`, so an input never
    * has to be materialized (a huge batch's index-info lines).
    */
  private def runStreamingInput(dir: File, write: java.io.OutputStream => Unit,
      args: String*): (Int, String) = {
    val out = new StringBuilder
    val sync = new Object
    def drain(is: java.io.InputStream): Unit = {
      val src = scala.io.Source.fromInputStream(is)(scala.io.Codec.UTF8)
      try src.getLines().foreach(l => sync.synchronized {
        out.append(l).append('\n'); ()
      })
      finally src.close()
    }
    val io = new ProcessIO(
      in => try write(in) finally in.close(),
      drain, drain)
    val p = Process("git" +: args.toSeq, dir).run(io)
    val code = p.exitValue()
    (code, sync.synchronized(out.result()))
  }

  /** One long-lived `git cat-file --batch` pipe serving raw TREE object
    * bodies by sha — the tree-read primitive for [[commitTreeDirect]]. One
    * subprocess per COMMIT instead of one `ls-tree` spawn per touched
    * directory: under the 256-way sharded layout a cadence commit touches
    * ~2,500 directories and the per-dir spawns alone measured 8-25s/commit.
    * Raw bodies also return names byte-exact (no C-quoting) and original
    * modes, which [[GitObjects.parseTree]] carries through.
    */
  private final class TreeBatchReader(dir: File) extends AutoCloseable {
    private lazy val proc = new java.lang.ProcessBuilder("git", "cat-file", "--batch")
      .directory(dir).start()
    private lazy val out = new java.io.BufferedOutputStream(proc.getOutputStream)
    private lazy val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(proc.getInputStream))
    private var used = false
    def tree(sha: String): Seq[GitObjects.TreeEntry] = {
      used = true
      out.write(sha.getBytes(StandardCharsets.US_ASCII)); out.write('\n'); out.flush()
      // header: "<sha> <type> <size>\n" | "<sha> missing\n"
      val hdr = new StringBuilder
      var c = in.read()
      while (c >= 0 && c != '\n') { hdr.append(c.toChar); c = in.read() }
      val parts = hdr.result().split(' ')
      require(parts.length == 3 && parts(1) == "tree",
        s"git cat-file: expected tree for $sha, got '$hdr'")
      val body = new Array[Byte](parts(2).toInt)
      in.readFully(body)
      in.read() // the trailing LF after the body
      GitObjects.parseTree(body)
    }
    def close(): Unit = if (used) {
      try out.close() catch { case _: java.io.IOException => () }
      proc.destroy()
      ()
    }
  }

  /** Stream `100644 <sha> 0\t<path>` lines into `update-index --index-info`
    * without materializing the entry list. Safe to re-run with the same
    * entries (index adds are idempotent).
    */
  def feedIndexInfo(repoDir: String, entries: Iterator[(String, String)]): Unit = {
    if (!entries.hasNext) return
    // the feed BUILDS ON the current index — if a tree-direct streaming run
    // left it stale, write-tree would emit a tree missing those commits'
    // files; start from HEAD's tree instead (no-op when already in sync)
    syncIndexToHead(repoDir)
    val (code, out) = runStreamingInput(new File(repoDir), os => {
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(os, StandardCharsets.UTF_8), 1 << 16)
      entries.foreach { case (path, sha) =>
        w.write("100644 "); w.write(sha); w.write(" 0\t"); w.write(path); w.write("\n")
      }
      w.flush()
    }, "update-index", "--index-info")
    require(code == 0, s"git update-index failed: $out")
  }

  /** Turn the already-fed index into a commit (write-tree → commit-tree →
    * update-ref), returning None when the tree is unchanged. The index-feed /
    * commit split lets a retry re-run the cheap metadata steps — or re-feed
    * from a persistent manifest — without re-materializing anything.
    */
  def commitFedIndex(repoDir: String, message: String): Option[String] = {
    val dir = new File(repoDir)
    val (wtCode, wtOut) = run(dir, "write-tree")
    require(wtCode == 0, s"git write-tree failed: $wtOut")
    val tree = wtOut.trim
    val (pCode, pOut) = run(dir, "rev-parse", "--verify", "-q", "HEAD")
    val parent = if (pCode == 0) Some(pOut.trim) else None
    val unchanged = parent.exists { p =>
      val (tc, tOut) = run(dir, "rev-parse", s"$p^{tree}")
      tc == 0 && tOut.trim == tree
    }
    if (unchanged) None
    else {
      val msgFile = File.createTempFile("graft-commit", ".txt")
      try {
        java.nio.file.Files.write(msgFile.toPath,
          message.getBytes(StandardCharsets.UTF_8))
        val args = Seq("-c", "user.name=graft-sync",
          "-c", "user.email=graft-sync@localhost", "commit-tree", tree) ++
          parent.toSeq.flatMap(p => Seq("-p", p)) ++
          Seq("-F", msgFile.getAbsolutePath)
        val (cCode, cOut) = run(dir, args: _*)
        require(cCode == 0, s"git commit-tree failed: $cOut")
        val commit = cOut.trim
        val (rCode, rOut) = run(dir, "update-ref", "HEAD", commit)
        require(rCode == 0, s"git update-ref failed: $rOut")
        Some(commit)
      } finally msgFile.delete()
    }
  }

  /** Initialize the repo if absent (reference: pkg/git/git.go:61-95).
    * Loose-object compression is disabled for the sync store: staging a
    * 20k-file batch is zlib-bound (measured 3.3s → 0.9s with compression
    * off), and the YAML records are short-lived in loose form. Scoped to
    * `core.looseCompression` only — `core.compression` is also the default
    * for pack.compression, so zeroing it would make `git gc` write
    * uncompressed packfiles and grow the repo unbounded.
    */
  def init(repoDir: String): Unit = {
    val dir = new File(repoDir)
    dir.mkdirs()
    if (!new File(dir, ".git").exists()) {
      val (code, out) = run(dir, "init", "-q")
      require(code == 0, s"git init failed: $out")
      val (ccode, cout) = run(dir, "config", "core.looseCompression", "0")
      require(ccode == 0, s"git config failed: $cout")
    }
  }

  /** Index-free commit for CONTINUOUS ingest: merge this batch's
    * `(path, blob-sha)` adds into HEAD's trees directly — read each touched
    * directory's current tree with `ls-tree`, overlay the adds, write the
    * merged tree objects ourselves ([[GitObjects.writeTree]]), then
    * `commit-tree` + `update-ref`. The git INDEX is a worktree-sync
    * structure with O(existing entries) insertion per update-index call;
    * on a corpus that grows every micro-batch that made the commit step
    * quadratic (sfg1.0 soak: 8s → 99s per batch; a 75k feed into a
    * 1.5M-entry index measures 55s, split-index worse under successive
    * feeds). This path's cost is the touched directories' tree size — the
    * unavoidable git floor — and nothing else.
    *
    * Adds only (the CDC stream never deletes); returns None when the merged
    * root tree equals HEAD's (idempotent replays). The repo's index is left
    * untouched and thus stale — a marker records that, and every index-path
    * entry point ([[status]]/[[feedIndexInfo]]/
    * [[removeFromIndex]]) self-heals via [[syncIndexToHead]] before reading;
    * the YAML corpus itself is byte-identical either way.
    */
  def commitTreeDirect(repoDir: String, message: String,
      adds: Iterator[(String, String)]): Option[String] = {
    val dir = new File(repoDir)
    val gitDir = java.nio.file.Paths.get(repoDir, ".git")
    // group adds per directory
    val byDir = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.Map[String, String]]
    adds.foreach { case (path, sha) =>
      val i = path.lastIndexOf('/')
      val d = if (i < 0) "" else path.substring(0, i)
      byDir.getOrElseUpdate(d, scala.collection.mutable.Map.empty)
        .update(path.substring(i + 1), sha)
    }
    if (byDir.isEmpty) return None
    // every directory on the path from the root to an add-dir gets rebuilt
    val needed = scala.collection.mutable.Set("")
    byDir.keys.foreach { d =>
      if (d.nonEmpty) {
        val parts = d.split('/')
        (1 to parts.length).foreach(k => needed += parts.take(k).mkString("/"))
      }
    }
    val headCommit = {
      val (code, out) = run(dir, "rev-parse", "-q", "--verify", "HEAD")
      if (code == 0) Some(out.trim) else None
    }
    // trees are read as RAW object bodies over one cat-file pipe: names
    // byte-exact (no C-quoting), original modes preserved (executables,
    // symlinks, gitlinks re-emit byte-identically), one subprocess per
    // commit no matter how many directories the adds touch
    val treeReader = new TreeBatchReader(dir)
    def lsTree(sha: String): Seq[GitObjects.TreeEntry] = treeReader.tree(sha)
    def rebuild(d: String, treeSha: Option[String]): String = {
      val existing = treeSha.map(lsTree).getOrElse(Nil)
      val merged = scala.collection.mutable.LinkedHashMap.empty[String, GitObjects.TreeEntry]
      existing.foreach(e => merged.update(e.name, e))
      // recurse into child directories that need rebuilding
      needed.filter { n =>
        val parent = n.lastIndexOf('/') match {
          case -1 => ""
          case i => n.substring(0, i)
        }
        n.nonEmpty && parent == d
      }.foreach { n =>
        val childName = n.substring(if (d.isEmpty) 0 else d.length + 1)
        val childSha = merged.get(childName).filter(_.isTree).map(_.sha)
        merged.update(childName,
          GitObjects.TreeEntry(childName, rebuild(n, childSha), isTree = true))
      }
      // overlay this directory's file adds
      byDir.get(d).foreach(_.foreach { case (name, sha) =>
        merged.update(name, GitObjects.TreeEntry(name, sha, isTree = false))
      })
      GitObjects.writeTree(gitDir, merged.values.toSeq)
    }
    val headTree = headCommit.map { c =>
      val (code, out) = run(dir, "rev-parse", s"$c^{tree}")
      require(code == 0, s"git rev-parse tree failed: $out")
      out.trim
    }
    val newRoot = try rebuild("", headTree) finally treeReader.close()
    if (headTree.contains(newRoot)) return None // idempotent replay
    val msgFile = File.createTempFile("graft-commit", ".txt")
    try {
      java.nio.file.Files.write(msgFile.toPath,
        message.getBytes(StandardCharsets.UTF_8))
      val parentArgs = headCommit.toSeq.flatMap(c => Seq("-p", c))
      val (ccode, cout) = run(dir,
        ("-c" +: "user.name=graft-sync" +: "-c" +: "user.email=graft-sync@localhost" +:
          "commit-tree" +: newRoot +: "-F" +: msgFile.getAbsolutePath +: parentArgs): _*)
      require(ccode == 0, s"git commit-tree failed: $cout")
      val commit = cout.trim
      // mark the index stale BEFORE moving HEAD: a crash between update-ref
      // and a marker write would leave the index stale-but-unmarked, and a
      // later index-path commit would write-tree a tree silently missing
      // these files. Marker-first closes that window — a marker with an
      // unmoved HEAD just makes [[syncIndexToHead]] a harmless read-tree.
      java.nio.file.Files.write(staleMarker(repoDir), Array.emptyByteArray)
      val (ucode, uout) = run(dir, "update-ref", "HEAD", commit)
      require(ucode == 0, s"git update-ref failed: $uout")
      Some(commit)
    } finally { msgFile.delete(); () }
  }

  /** Marker dropped by [[commitTreeDirect]]: the index no longer reflects
    * HEAD. Guarding the `read-tree` repair on it keeps the streaming loop's
    * commits O(touched dirs) — an unconditional read-tree per index entry
    * point would reintroduce the O(corpus) term the tree-direct path removed.
    */
  private def staleMarker(repoDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(repoDir, ".git", "graft-index-stale")

  /** If a tree-direct streaming run left the index stale relative to HEAD,
    * reset it to HEAD's tree (worktree untouched). Without this, any later
    * index-based reader on the same repo (`git status`, `update-index
    * --index-info` feeds) would see the tree-direct commits as spurious dirt
    * — or worse, write-tree a tree MISSING them. No-op when the marker is
    * absent, so it cannot wipe deliberately staged state (e.g. [[recover]]'s
    * batched deletions awaiting the next sync commit).
    */
  def syncIndexToHead(repoDir: String): Unit = {
    if (!java.nio.file.Files.exists(staleMarker(repoDir))) return
    val dir = new File(repoDir)
    val (hCode, _) = run(dir, "rev-parse", "--verify", "-q", "HEAD")
    if (hCode == 0) {
      val (code, out) = run(dir, "read-tree", "HEAD")
      require(code == 0, s"git read-tree HEAD failed: $out")
    }
    java.nio.file.Files.deleteIfExists(staleMarker(repoDir))
    ()
  }

  /** Repo status introspection (reference: pkg/git/git.go:149-211). */
  def status(repoDir: String): Map[String, String] = {
    syncIndexToHead(repoDir)
    val (_, branch) = run(new File(repoDir), "rev-parse", "--abbrev-ref", "HEAD")
    val (_, porcelain) = run(new File(repoDir), "status", "--porcelain")
    Map("branch" -> branch.trim, "dirty" -> porcelain.trim.nonEmpty.toString)
  }

  /** Stage deletions for paths already removed from the worktree
    * (`update-index --remove --stdin`; a no-op for paths still present or
    * never indexed). Needed alongside [[feedIndexInfo]], which only
    * adds/updates entries: without this, files deleted by
    * [[graft.engine.SyncEngine.recover]]'s repair pass would stay in every
    * future committed tree and leave `git status` permanently dirty.
    */
  def removeFromIndex(repoDir: String, paths: Seq[String]): Unit = {
    if (paths.isEmpty) return
    // clear any tree-direct staleness BEFORE staging removals — once they are
    // staged, a later read-tree repair would silently resurrect the paths
    syncIndexToHead(repoDir)
    val (code, out) = runStreamingInput(new File(repoDir), os => {
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(os, StandardCharsets.UTF_8), 1 << 16)
      paths.foreach { p => w.write(p); w.write("\n") }
      w.flush()
    }, "update-index", "--remove", "--stdin")
    require(code == 0, s"git update-index --remove failed: $out")
  }

  /** Commit subjects, newest first. */
  def log(repoDir: String, n: Int = 50): Seq[String] = {
    val (_, out) = run(new File(repoDir), "log", s"-$n", "--pretty=%s")
    out.linesIterator.filter(_.nonEmpty).toSeq
  }
}
