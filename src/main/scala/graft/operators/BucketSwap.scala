package graft.operators

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

/** The one crash-consistency protocol of every persisted bucketed tree
  * (IVF and IVF-PQ lists, the flat SQ8/BQ/PCA tiers, the graph): the
  * on-disk form of the reference's atomic snapshot swap
  * (index_service.py:270-284). Every move is a named [[Step]]:
  *   - refuse: a tree carrying a half-applied mutation (its marker
  *     directory, or a bucket aside) is refused by every serve and
  *     mutate path;
  *   - stage: a mutation writes everything it lands under the tree's
  *     marker, which parquet readers skip; a staging that fails is
  *     discarded (nothing live moved, the state does not count it);
  *   - state write: the new state record, before anything live moves;
  *   - bucket swap: each rewritten bucket renamed aside, its staged
  *     twin renamed in, the aside dropped;
  *   - move-in: an append's staged part files renamed into their live
  *     buckets file by file (part names carry a per-job UUID, so a
  *     partial move-in resumes);
  *   - restore asides, recover: [[recover]] makes a crashed mutation
  *     whole in place;
  *   - tree swap: a rebuild's whole staged tree at the sibling
  *     `<path>_rebuild_tmp` swapped for the live one, with two abort
  *     re-checks against a concurrent mutation.
  * A crash at any step leaves a tree that serves its pre- or
  * post-mutation contents or is refused, and [[recover]] (which every
  * rebuild runs first) makes it whole. A tree is described by its
  * [[Tree]]: the bucket column (`cluster_id`, `src_bucket`, `vbucket`),
  * the marker (`_append_tmp`, `_graph_tmp`) and the directory each
  * layout lives in are its parameters.
  */
private[graft] object BucketSwap {

  sealed abstract class Step(val name: String) {
    override def toString: String = name
  }

  object Step {
    case object Refuse extends Step("refuse")
    case object Stage extends Step("stage")
    case object StateWrite extends Step("state write")
    case object Swap extends Step("bucket swap")
    case object MoveIn extends Step("move-in")
    case object RestoreAsides extends Step("restore asides")
    case object TreeSwap extends Step("tree swap")
    case object Recover extends Step("recover")
  }

  /** Test-only fault hook, called with the tree root before each step;
    * per bucket and file inside the bucket swap, the move-in and the
    * aside restore; and inside the tree swap also between the
    * move-aside and the swap-in, the window a crash leaves an aside in.
    */
  @volatile private[graft] var beforeStep: (String, Step) => Unit = (_, _) => ()

  private def at(root: String, step: Step): Unit = beforeStep(root, step)

  /** `<dir>/<prefix>=N` bucket directories of parquet part files. */
  final case class Layout(dir: String, prefix: String) {
    def bucket(b: Int): Path = new Path(s"$dir/$prefix=$b")
  }

  /** A persisted tree: `lists`, the bucket layout at its root; `marker`,
    * the directory under the root every mutation stages in, whose
    * presence refuses the tree; `rows`, the layout whose row count the
    * state's `size` records; `staged`, where an append stages them.
    */
  final case class Tree(root: String, marker: String, lists: Layout, rows: Layout,
                        staged: Layout) {
    def staging: String = s"$root/$marker"
  }

  /** A `cluster_id=` tree: IVF and IVF-PQ lists, the flat tiers. */
  def lists(path: String): Tree = {
    val l = Layout(path, "cluster_id")
    Tree(path, "_append_tmp", l, l, Layout(s"$path/_append_tmp", "cluster_id"))
  }

  /** A graph tree: edge buckets at the root, vectors under `_vectors`. */
  def graph(path: String): Tree =
    Tree(path, "_graph_tmp", Layout(path, "src_bucket"), Layout(s"$path/_vectors", "vbucket"),
      Layout(s"$path/_graph_tmp/vectors", "vbucket"))

  /** A staged rewrite of `buckets` of `live` under `staged`; a bucket
    * with no staged directory was emptied and disappears.
    */
  final case class Rewrite(live: Layout, staged: String, buckets: Seq[Int])

  private def fs(spark: SparkSession, path: String): FileSystem = IndexLifecycle.fs(spark, path)

  private def listing(f: FileSystem, dir: Path): Seq[FileStatus] =
    try f.listStatus(dir).toSeq catch { case _: FileNotFoundException => Nil }

  private def buckets(f: FileSystem, l: Layout): Seq[Path] =
    listing(f, new Path(l.dir))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"${l.prefix}="))
      .map(_.getPath)

  private def partFiles(f: FileSystem, bucket: Path): Seq[Path] =
    listing(f, bucket).map(_.getPath).filter(_.getName.startsWith("part-"))

  private def asideName(l: Layout): String = s"_old_${l.prefix}="

  // ------------------------------------------------------------- refuse

  /** Refuse a half-applied tree in one filesystem call, a listing of
    * its root: the marker or a bucket aside there fails loudly. Returns
    * the live bucket ids of `lists` (empty when the tree does not
    * exist), which serve paths read their buckets from.
    */
  def refuse(spark: SparkSession, tree: Tree): Set[Int] = {
    at(tree.root, Step.Refuse)
    val names = listing(fs(spark, tree.root), new Path(tree.root)).map(_.getPath.getName)
    halfApplied(tree, names.filter(n => n == tree.marker || n.startsWith(asideName(tree.lists))))
    names.filter(_.startsWith(s"${tree.lists.prefix}="))
      .map(_.stripPrefix(s"${tree.lists.prefix}=").toInt).toSet
  }

  /** [[refuse]] by one probe of the marker alone: enough for a tree
    * whose every swap runs under it, when no bucket listing is needed.
    */
  def refuseProbe(spark: SparkSession, tree: Tree): Unit = {
    at(tree.root, Step.Refuse)
    halfApplied(tree,
      if (fs(spark, tree.root).exists(new Path(tree.staging))) Seq(tree.marker) else Nil)
  }

  private def halfApplied(tree: Tree, leftover: Seq[String]): Unit =
    require(leftover.isEmpty,
      s"index at ${tree.root} has a half-applied mutation (${leftover.mkString(", ")}); " +
        "a crash interrupted a bucket swap or an append landing — rebuild the index")

  /** The precondition of every mutation and rebuild: a built tree with
    * no half-applied mutation. Returns its state.
    */
  def intact(spark: SparkSession, tree: Tree, verb: String): IndexStatus = {
    val s = IndexLifecycle.status(spark, tree.root)
    require(s.isBuilt, s"$verb requires a built index (build first)")
    refuse(spark, tree)
    s
  }

  // ----------------------------------------------------------- mutations

  /** Run `write`, which stages a mutation under the tree's marker. A
    * staging that fails is discarded: nothing live moved yet.
    */
  def stage(spark: SparkSession, tree: Tree)(write: => Unit): Unit =
    try {
      at(tree.root, Step.Stage)
      write
    } catch {
      case e: Throwable =>
        fs(spark, tree.root).delete(new Path(tree.staging), true)
        throw e
    }

  /** Land a staged mutation: write `next` (a compaction, content-neutral,
    * passes None), swap each rewrite's buckets, move the staged rows of
    * an append in, then clear the marker. From the state write on, a
    * crash leaves the marker: the tree refuses until [[recover]].
    */
  def land(spark: SparkSession, tree: Tree, next: Option[IndexStatus],
           rewrites: Seq[Rewrite] = Nil): Unit = {
    val f = fs(spark, tree.root)
    next.foreach { s =>
      at(tree.root, Step.StateWrite)
      IndexLifecycle.writeState(spark, tree.root, s)
    }
    rewrites.foreach(swapBuckets(f, tree, _))
    moveIn(f, tree)
    if (!f.delete(new Path(tree.staging), true))
      sys.error(s"could not clear the staging dir ${tree.staging}")
  }

  private def swapBuckets(f: FileSystem, tree: Tree, r: Rewrite): Unit =
    r.buckets.foreach { b =>
      val live = r.live.bucket(b)
      val staged = new Path(s"${r.staged}/${live.getName}")
      val aside = new Path(r.live.dir, asideName(r.live) + b)
      if (f.exists(live) && !f.rename(live, aside))
        sys.error(s"could not move bucket $live aside")
      at(tree.root, Step.Swap)
      if (f.exists(staged) && !f.rename(staged, live))
        sys.error(s"could not swap $staged in; the old bucket is at $aside")
      if (f.exists(aside) && !f.delete(aside, true))
        sys.error(s"could not drop the bucket aside $aside")
    }

  private def moveIn(f: FileSystem, tree: Tree): Unit =
    buckets(f, tree.staged).foreach { d =>
      val dst = new Path(tree.rows.dir, d.getName)
      if (!f.exists(dst) && !f.mkdirs(dst)) sys.error(s"could not create bucket $dst")
      partFiles(f, d).foreach { p =>
        at(tree.root, Step.MoveIn)
        if (!f.rename(p, new Path(dst, p.getName))) sys.error(s"could not move $p into $dst")
      }
    }

  /** Stage an append's `rows`, keyed by the tree's bucket column, one
    * file per touched bucket, then [[land]] them as `next`.
    */
  def landRows(spark: SparkSession, tree: Tree, rows: DataFrame, next: IndexStatus): Unit = {
    val key = tree.staged.prefix
    stage(spark, tree) {
      rows.repartition(col(key)).write.mode("overwrite").partitionBy(key).parquet(tree.staged.dir)
    }
    land(spark, tree, Some(next))
  }

  /** The size of a batch, and nothing else, for [[append]]. */
  val count: DataFrame => (Long, Unit) = v => (v.count(), ())

  /** The append skeleton of every lifecycle: the precondition, the
    * per-stream replay guard (a batch `streamId`'s watermark already
    * covers no-ops; ids are per stream, so a fresh checkpoint's batch
    * numbering is never swallowed), `batch` cached and `measure`d (its
    * size plus whatever else the landing needs from that one job), the
    * growth recorded as dirt with the stream's watermark, then `land`
    * writes it as the returned state. The batch is released in
    * `finally`, on failure too. `batch` is built after the guard, so a
    * replay reads no model.
    */
  def append[C](spark: SparkSession, tree: Tree, streamBatchId: Option[Long] = None,
                streamId: Option[String] = None)(batch: => DataFrame)
               (measure: DataFrame => (Long, C))
               (land: (DataFrame, C, IndexStatus) => Unit): IndexStatus = {
    val s = intact(spark, tree, "append")
    val stream = streamId.getOrElse("")
    if (streamBatchId.exists(_ <= s.appliedBatchFor(stream))) return s
    val v = batch.cache()
    try {
      val (n, c) = measure(v)
      val grown = s.copy(isDirty = true, dirtyCount = s.dirtyCount + n, size = s.size + n)
      val next = streamBatchId.fold(grown)(grown.withAppliedBatch(stream, _))
      land(v, c, next)
      next
    } finally v.unpersist()
  }

  /** Small-files compaction of `layout` of `tree`: every bucket holding
    * more than `maxFiles` part files is read as explicit paths under
    * `schema` (its data columns), rewritten as one file and swapped in
    * under the marker. Content-neutral: the state is untouched. Returns
    * the number of buckets rewritten.
    */
  def compact(spark: SparkSession, tree: Tree, layout: Layout, maxFiles: Int,
              schema: => StructType): Int = {
    val f = fs(spark, tree.root)
    val affected = buckets(f, layout).filter(partFiles(f, _).length > maxFiles)
    if (affected.isEmpty) return 0
    val staged = s"${tree.staging}/compact"
    stage(spark, tree) {
      spark.read.schema(schema.add(layout.prefix, IntegerType))
        .option("basePath", layout.dir)
        .parquet(affected.map(_.toString): _*)
        .repartition(col(layout.prefix)) // one file per rewritten bucket
        .write.mode("overwrite").partitionBy(layout.prefix).parquet(staged)
    }
    land(spark, tree, None, Seq(Rewrite(layout, staged,
      affected.map(_.getName.stripPrefix(s"${layout.prefix}=").toInt))))
    affected.length
  }

  /** The data columns Spark recorded in the footer of one part file of
    * `layout`, read on the driver (no job).
    */
  def recordedSchema(spark: SparkSession, layout: Layout): StructType = {
    val f = fs(spark, layout.dir)
    val file = buckets(f, layout).iterator.flatMap(partFiles(f, _)).nextOption()
      .getOrElse(sys.error(s"no part file under ${layout.dir}"))
    val json = footer(spark, file)(_.getFooter.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata"))
    DataType.fromJson(Option(json).getOrElse(sys.error(s"$file records no Spark schema")))
      .asInstanceOf[StructType]
  }

  private def footer[T](spark: SparkSession, file: Path)(read: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try read(r) finally r.close()
  }

  /** Rows of `layout`, summed from the footers of its part files,
    * listed on the driver: no job, and an unreadable file fails.
    */
  private def rowCount(spark: SparkSession, layout: Layout): Long = {
    val f = fs(spark, layout.dir)
    buckets(f, layout).flatMap(partFiles(f, _)).map(footer(spark, _)(_.getRecordCount)).sum
  }

  // ------------------------------------------------------------ rebuild

  /** The rebuild skeleton: [[recover]], the precondition, then `write`
    * stages the whole new tree (lists, sidecars and its state, from
    * the live state it is given) at the sibling `<path>_rebuild_tmp`
    * while the live tree keeps serving, and [[swapTree]] swaps it in.
    */
  def rebuild(spark: SparkSession, tree: Tree)
             (write: (IndexStatus, String) => IndexStatus): IndexStatus = {
    recover(spark, tree)
    val s = intact(spark, tree, "rebuild")
    val f = fs(spark, tree.root)
    val tmp = new Path(s"${tree.root}_rebuild_tmp")
    f.delete(tmp, true)
    val next =
      try {
        at(tree.root, Step.Stage)
        write(s, tmp.toString)
      } catch {
        case e: Throwable => f.delete(tmp, true); throw e
      }
    swapTree(spark, tree.root, tmp, s)
    next
  }

  /** Swap the staged tree `tmp` for the live one at `path`, whose state
    * was `entry` when staging began. Two checks narrow the lost-update
    * window: the live state re-read before the renames (a mutation
    * that landed during staging exists only in the live tree: abort,
    * staged tree discarded, loud retry error), and the moved-aside
    * tree's state re-read after the first rename (a mutation that
    * slipped in between travelled with the tree: renamed back). A
    * crash between the renames leaves both complete trees under loud
    * names, which [[recover]] resolves to the old one.
    */
  private def swapTree(spark: SparkSession, path: String, tmp: Path,
                       entry: IndexStatus): Unit = ServingState.writing(path) {
    val f = fs(spark, path)
    def same(s: IndexStatus) = (s.version, s.dirtyCount, s.size, s.appliedStreams) ==
      (entry.version, entry.dirtyCount, entry.size, entry.appliedStreams)
    at(path, Step.TreeSwap)
    val live0 = IndexLifecycle.status(spark, path)
    if (!same(live0)) {
      f.delete(tmp, true)
      sys.error(s"rebuild: concurrent mutation landed during staging " +
        s"(entry state $entry, live state $live0) — staged tree discarded, " +
        "re-run rebuild against the current contents")
    }
    val live = new Path(path)
    val aside = treeAside(path, entry.version)
    if (!f.rename(live, aside)) sys.error(s"rebuild: could not move live index $live aside")
    at(path, Step.TreeSwap)
    if (!same(IndexLifecycle.status(spark, aside.toString))) {
      if (!f.rename(aside, live))
        sys.error(s"rebuild: late mutation detected but could not restore " +
          s"$aside to $live — recover by hand before serving")
      f.delete(tmp, true)
      sys.error("rebuild: concurrent mutation landed between the abort check " +
        "and the swap — live tree restored, staged tree discarded, re-run " +
        "rebuild against the current contents")
    }
    if (!f.rename(tmp, live))
      sys.error(s"rebuild: rename $tmp -> $live failed; last good version at $aside")
    if (!f.delete(aside, true))
      sys.error(s"rebuild: could not clean up old version $aside")
  }

  private def treeAside(path: String, version: Int): Path = new Path(s"${path}_old_v$version")

  // ------------------------------------------------------------ recover

  /** Make a crashed mutation whole in place, in order:
    *   1. a crashed tree swap: a missing live tree takes its aside
    *      back; a leftover aside or staged tree is dropped;
    *   2. bucket asides, before anything counts rows (readers skip an
    *      aside): one whose live bucket is missing IS the content and
    *      is renamed back; one whose bucket is present is dropped;
    *   3. the marker: staged rows the state already counts — exactly
    *      state size − live rows, never a mere inequality, which could
    *      land an unaccounted batch on top of unrelated size drift for
    *      the stream's replay to land again — are an append that crashed
    *      after its state write, and move in (resuming a partial
    *      move-in); other staging is unaccounted or already landed, and
    *      goes with the marker. A streamed batch the state accounts for
    *      is therefore never lost behind its recorded watermark;
    *   4. the state's `size` re-pointed at the rows on disk, the
    *      difference recorded as dirt (a delete that crashed mid-swap
    *      removed some rows; re-running it converges).
    * Row counts read part-file footers: an unreadable staged file fails
    * recovery and leaves the staging in place. Returns whether anything
    * was repaired.
    */
  def recover(spark: SparkSession, tree: Tree): Boolean = {
    at(tree.root, Step.Recover)
    val f = fs(spark, tree.root)
    var repaired = recoverTree(spark, f, tree.root)
    if (!f.exists(new Path(tree.root))) return repaired
    Seq(tree.lists, tree.rows).distinct.foreach { l =>
      repaired = restoreAsides(f, tree, l) || repaired
    }
    val staging = new Path(tree.staging)
    if (f.exists(staging)) {
      val staged = rowCount(spark, tree.staged)
      if (staged > 0 &&
          IndexLifecycle.status(spark, tree.root).size - rowCount(spark, tree.rows) == staged)
        moveIn(f, tree)
      if (!f.delete(staging, true)) sys.error(s"recover: could not clear $staging")
      repaired = true
    }
    // the stagings of an older protocol, which sat beside the marker
    Seq("_delete_rewrite", "_compact_rewrite").map(new Path(tree.root, _))
      .filter(f.exists).foreach { p =>
        if (!f.delete(p, true)) sys.error(s"recover: could not drop stale staging $p")
        repaired = true
      }
    if (repaired) {
      val s = IndexLifecycle.status(spark, tree.root)
      val disk = rowCount(spark, tree.rows)
      if (s.size != disk)
        IndexLifecycle.writeState(spark, tree.root, s.copy(size = disk, isDirty = true,
          dirtyCount = s.dirtyCount + math.abs(s.size - disk)))
    }
    repaired
  }

  /** A crashed tree swap: a missing live tree takes back its aside (the
    * newest, when there are several); an aside beside a live tree, and
    * a staged tree, are dropped.
    */
  private def recoverTree(spark: SparkSession, f: FileSystem, path: String): Boolean = {
    val live = new Path(path)
    val asides =
      if (f.exists(live))
        Seq(treeAside(path, IndexLifecycle.status(spark, path).version - 1)).filter(f.exists)
      else {
        val prefix = s"${live.getName}_old_v"
        listing(f, live.getParent).map(_.getPath).filter(_.getName.startsWith(prefix))
          .sortBy(a => -a.getName.stripPrefix(prefix).toIntOption.getOrElse(-1))
      }
    asides.foreach { a =>
      at(path, Step.RestoreAsides)
      if (!f.exists(live)) {
        if (!f.rename(a, live)) sys.error(s"recover: could not restore $a to $live")
      } else if (!f.delete(a, true)) sys.error(s"recover: could not drop $a")
    }
    val staged = new Path(s"${path}_rebuild_tmp")
    val stale = f.exists(staged)
    if (stale && !f.delete(staged, true)) sys.error(s"recover: could not drop $staged")
    asides.nonEmpty || stale
  }

  private def restoreAsides(f: FileSystem, tree: Tree, l: Layout): Boolean = {
    val asides = listing(f, new Path(l.dir)).map(_.getPath)
      .filter(_.getName.startsWith(asideName(l)))
    asides.foreach { a =>
      at(tree.root, Step.RestoreAsides)
      val live = new Path(l.dir, a.getName.stripPrefix("_old_"))
      if (f.exists(live)) {
        if (!f.delete(a, true)) sys.error(s"recover: could not drop stale aside $a")
      } else if (!f.rename(a, live))
        sys.error(s"recover: could not restore aside $a -> $live")
    }
    asides.nonEmpty
  }
}
