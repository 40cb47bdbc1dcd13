package graft.sink

import java.io.File
import java.nio.charset.StandardCharsets

import scala.sys.process._

/** Git commit sink (SURVEY.md §2.1 S9/S10): repo init plus one commit per
  * batch — the scalable re-design of the reference's
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

  /** The one commit path, for sync, recover and the stream: merge this
    * batch's `(path, blob-sha)` adds and its path removals into HEAD's
    * trees directly — read each touched directory's current tree over one
    * `cat-file` pipe, overlay the changes, write the merged tree objects
    * ourselves ([[GitObjects.writeTree]]), then `commit-tree` +
    * `update-ref`. The git INDEX is never fed: its insertion is O(existing
    * entries) per update, which made per-batch commits quadratic over a
    * growing corpus (sfg1.0 soak: 8s → 99s per batch; a 75k feed into a
    * 1.5M-entry index measures 55s). This path's cost is the touched
    * directories' tree size plus the batch's `(path, sha)` pairs held on
    * the driver, grouped per directory, for the merge.
    *
    * An add wins over a removal of the same path; removing a path HEAD does
    * not track is a no-op, and a directory the removals empty is dropped
    * from its parent. Returns None when the merged root tree equals HEAD's
    * (idempotent replays). The index is left as it was — callers that
    * promise a clean `git status` follow with [[resetIndexToHead]].
    */
  def commitTreeDirect(repoDir: String, message: String,
      adds: Iterator[(String, String)],
      removes: Iterator[String] = Iterator.empty): Option[String] = {
    val dir = new File(repoDir)
    val gitDir = java.nio.file.Paths.get(repoDir, ".git")
    def parentOf(path: String): String = path.lastIndexOf('/') match {
      case -1 => ""
      case i => path.substring(0, i)
    }
    // per directory: name → Some(blob sha) to add, None to remove
    val byDir = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.Map[String, Option[String]]]
    def put(path: String, sha: Option[String]): Unit =
      byDir.getOrElseUpdate(parentOf(path), scala.collection.mutable.Map.empty)
        .update(path.substring(path.lastIndexOf('/') + 1), sha)
    removes.foreach(put(_, None))
    adds.foreach { case (path, sha) => put(path, Some(sha)) }
    if (byDir.isEmpty) return None
    // every directory on the path from the root to a touched dir gets
    // rebuilt, children looked up by parent
    val needed = scala.collection.mutable.Set.empty[String]
    byDir.keys.foreach { d =>
      var n = d
      while (n.nonEmpty && needed.add(n)) n = parentOf(n)
    }
    val children = needed.toSeq.groupBy(parentOf)
    val headCommit = {
      val (code, out) = run(dir, "rev-parse", "-q", "--verify", "HEAD")
      if (code == 0) Some(out.trim) else None
    }
    // trees are read as RAW object bodies over one cat-file pipe: names
    // byte-exact (no C-quoting), original modes preserved (executables,
    // symlinks, gitlinks re-emit byte-identically), one subprocess per
    // commit no matter how many directories the batch touches
    val treeReader = new TreeBatchReader(dir)
    // the merged tree's sha, or None for a directory left empty
    def rebuild(d: String, treeSha: Option[String]): Option[String] = {
      val merged = scala.collection.mutable.LinkedHashMap.empty[String, GitObjects.TreeEntry]
      treeSha.foreach(treeReader.tree(_).foreach(e => merged.update(e.name, e)))
      def isTreeEntry(name: String) = merged.get(name).exists(_.isTree)
      children.getOrElse(d, Nil).foreach { n =>
        val childName = n.substring(if (d.isEmpty) 0 else d.length + 1)
        rebuild(n, merged.get(childName).filter(_.isTree).map(_.sha)) match {
          case Some(sha) =>
            merged.update(childName, GitObjects.TreeEntry(childName, sha, isTree = true))
          case None => if (isTreeEntry(childName)) merged.remove(childName)
        }
      }
      byDir.get(d).foreach(_.foreach {
        case (name, Some(sha)) =>
          merged.update(name, GitObjects.TreeEntry(name, sha, isTree = false))
        case (name, None) => if (!isTreeEntry(name)) merged.remove(name)
      })
      if (merged.isEmpty) None
      else Some(GitObjects.writeTree(gitDir, merged.values.toSeq))
    }
    val headTree = headCommit.map { c =>
      val (code, out) = run(dir, "rev-parse", s"$c^{tree}")
      require(code == 0, s"git rev-parse tree failed: $out")
      out.trim
    }
    val root = try rebuild("", headTree) finally treeReader.close()
    // a root the removals emptied is git's empty tree; an unborn HEAD with
    // nothing left to add has nothing to commit
    val newRoot = root.orElse(headTree.map(_ => GitObjects.writeTree(gitDir, Nil)))
    if (newRoot.isEmpty || newRoot == headTree) return None // idempotent replay
    val msgFile = File.createTempFile("graft-commit", ".txt")
    try {
      java.nio.file.Files.write(msgFile.toPath,
        message.getBytes(StandardCharsets.UTF_8))
      val parentArgs = headCommit.toSeq.flatMap(c => Seq("-p", c))
      val (ccode, cout) = run(dir,
        ("-c" +: "user.name=graft-sync" +: "-c" +: "user.email=graft-sync@localhost" +:
          "commit-tree" +: newRoot.get +: "-F" +: msgFile.getAbsolutePath +: parentArgs): _*)
      require(ccode == 0, s"git commit-tree failed: $cout")
      val commit = cout.trim
      val (ucode, uout) = run(dir, "update-ref", "HEAD", commit)
      require(ucode == 0, s"git update-ref failed: $uout")
      Some(commit)
    } finally { msgFile.delete(); () }
  }

  /** Reset the index to HEAD's tree (`read-tree HEAD`; worktree untouched,
    * no-op on an unborn HEAD) so `git status` compares the worktree with
    * what [[commitTreeDirect]] committed. One O(corpus) pass — sync and
    * recover run it once after their commits; the stream leaves the index
    * alone, so each micro-batch stays O(touched dirs).
    */
  def resetIndexToHead(repoDir: String): Unit = {
    val dir = new File(repoDir)
    if (run(dir, "rev-parse", "--verify", "-q", "HEAD")._1 == 0) {
      val (code, out) = run(dir, "read-tree", "HEAD")
      require(code == 0, s"git read-tree HEAD failed: $out")
    }
  }
}
