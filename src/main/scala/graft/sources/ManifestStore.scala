package graft.sources

import org.apache.hadoop.fs.{Path => HPath}

/** Generation-manifest commit layer for partitioned swap targets on
  * FLAT OBJECT STORES (s3/gs/wasb/... — [[SwapFs]]'s copy-rename
  * schemes), where a directory rename is copy+delete: O(data) and
  * non-atomic, so the in-place per-partition swap of
  * [[graft.operators.Upsert.mergePartitionedPath]] degrades from
  * "each partition old or new, never mixed" to "torn window
  * possible". The manifest mode restores per-MERGE atomicity the way
  * a table format's snapshot commit does (and the reference gets for
  * free from its warehouse — /root/reference/sql/02_load_data.sql:
  * 78-165):
  *
  *  - physical partition data lives in GENERATION directories
  *    (`_g<gen>/<partCol>=<value>/`, underscore-prefixed so a naive
  *    recursive reader never double-counts);
  *  - a merge writes its affected partitions into a FRESH generation
  *    (renames of just-written unreferenced temp data — a torn copy
  *    there is invisible because nothing points at it yet);
  *  - the commit is ONE small manifest file (`_manifest.<gen>`)
  *    naming every live partition's physical directory, written to a
  *    temp name and renamed into place — a single-object move whose
  *    visibility is atomic even on flat stores (one PUT);
  *  - readers resolve through the HIGHEST manifest generation, so
  *    they see exactly the pre-merge or post-merge table, never a
  *    mix. Directories referenced by a manifest are NEVER mutated;
  *    superseded generations are garbage-collected only after the
  *    next commit (a long-running reader that outlives the commit it
  *    started on shares the usual snapshot-expiry caveat of every
  *    table format).
  *
  * File format (deliberately line-oriented, no JSON dependency):
  * `gen=<N>`, one `<partDirName>\t<relPath>` line per live partition,
  * then the `#END` sentinel — a manifest missing its sentinel is torn
  * and fails LOUDLY rather than resolving to a partial table. */
object ManifestStore {

  /** Live state: generation number + map of partition directory name
    * (`d=2024-01-01`, escaped) → target-relative physical path
    * (`_g3/d=2024-01-01`). */
  final case class State(gen: Long, parts: Map[String, String])

  private val Prefix = "_manifest."

  private def manifestPath(io: SwapFs, target: String, gen: Long): HPath =
    io.path(s"$target/$Prefix$gen")

  /** All committed manifest generations at `target`, ascending. */
  def generations(io: SwapFs, target: String): Seq[Long] = {
    val root = io.path(target)
    if (!io.fs.exists(root)) return Seq.empty
    io.fs.listStatus(root).iterator
      .filter(st => !st.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n.startsWith(Prefix) && n.stripPrefix(Prefix).forall(_.isDigit)
        && n.length > Prefix.length)
      .map(_.stripPrefix(Prefix).toLong)
      .toSeq.sorted
  }

  /** The highest committed state, or None for a fresh target. A
    * manifest file that exists but does not parse (missing sentinel —
    * a torn write) fails loudly: resolving a partial manifest would
    * silently drop partitions. */
  def read(io: SwapFs, target: String): Option[State] =
    generations(io, target).lastOption.map(g => readAt(io, target, g))

  private def readAt(io: SwapFs, target: String, g: Long): State = {
    val p = manifestPath(io, target, g)
    val lines = io.readText(p).split("\n", -1).toSeq
    require(lines.nonEmpty && lines.head == s"gen=$g" && lines.contains("#END"),
      s"ManifestStore: $p is torn or malformed (missing header/sentinel) — refusing to " +
        "resolve a partial table; restore the previous manifest or recommit")
    val parts = lines.drop(1).takeWhile(_ != "#END").map { l =>
      val i = l.indexOf('\t')
      require(i > 0, s"ManifestStore: malformed line in $p: '$l'")
      l.substring(0, i) -> l.substring(i + 1)
    }.toMap
    State(g, parts)
  }

  /** Commit `state` as `_manifest.<gen>`: write to a temp name, then
    * a single-file rename into place (atomic visibility on every
    * scheme — one object). Fails loudly if the generation already
    * exists (two writers raced past the lease). */
  def commit(io: SwapFs, target: String, state: State): Unit = {
    val dst = manifestPath(io, target, state.gen)
    require(!io.exists(dst),
      s"ManifestStore: $dst already exists — a concurrent writer committed this generation")
    val tmp = io.path(s"$target/$Prefix${state.gen}.tmp")
    io.delete(tmp)
    val body = (s"gen=${state.gen}" +:
      state.parts.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }) :+ "#END"
    io.writeText(tmp, body.mkString("\n"), overwrite = true)
    io.rename(tmp, dst)
  }

  /** Drop superseded manifest files and physical directories no
    * longer referenced by a RETAINED manifest. Runs only AFTER a
    * successful commit, and retains `retainGenerations` superseded
    * manifests (default 1 — true N-1 retention): a reader that
    * resolved the previous manifest and is still scanning keeps its
    * files for one more commit; only a reader outliving TWO commits
    * shares the snapshot-expiry caveat of every table format.
    * Deployments with longer-running readers raise the knob. */
  def gc(io: SwapFs, target: String, retainGenerations: Int = 1): Unit = {
    val gens = generations(io, target)
    if (gens.isEmpty) return
    val retained = gens.takeRight(retainGenerations + 1)
    for (g <- gens if !retained.contains(g)) io.delete(manifestPath(io, target, g))
    // a directory survives while ANY retained manifest references it
    val live = retained.flatMap(g => readAt(io, target, g).parts.values).toSet
    val referencedGens = live.map(_.takeWhile(_ != '/'))
    val root = io.path(target)
    for (st <- io.fs.listStatus(root) if st.isDirectory) {
      val name = st.getPath.getName
      if (name.startsWith("_g") && name.drop(2).forall(_.isDigit)) {
        if (!referencedGens.contains(name)) io.delete(st.getPath)
        else {
          // referenced generation: drop only its unreferenced partition dirs
          for (sub <- io.fs.listStatus(st.getPath) if sub.isDirectory) {
            val rel = s"$name/${sub.getPath.getName}"
            if (!live.contains(rel)) io.delete(sub.getPath)
          }
        }
      }
    }
  }
}
