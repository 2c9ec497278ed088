package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import scala.reflect.ClassTag

/** Open-once serving state of persisted indexes: ONE session registry,
  * keyed by index path, of what a point query needs from a tree and
  * what does not change between that tree's mutations —
  *   - IVF: the coarse centroids and the two-level hierarchy (the
  *     append path assigns through it);
  *   - IVF-PQ: the full [[Pq.PersistedModel]] (centroids, codebooks,
  *     metric, rotation, residual flag, hierarchy);
  *   - graph: the tree's metric, k and centroids, and one row per
  *     bucket of its partition-local layout — ids, vectors, coarse
  *     lists and the symmetrised in-bucket adjacency, held as arrays
  *     and pinned with a local checkpoint — so a warm call reads
  *     nothing from disk; a tree of an older layout refuses to open;
  *   - the schema of each list root a query re-reads per call, so
  *     `spark.read.schema(...)` runs no inference job.
  *
  * Entries hold content only — never a file listing or a DataFrame
  * bound to files — so a compaction, which renames files but changes
  * no row, cannot make one stale. Every open validates its entry
  * against a stamp read on the driver with no Spark job, and reloads
  * when the stamp changed:
  *   - the part of the lifecycle state record the content depends on:
  *     (version, builtAt) for IVF and IVF-PQ, whose quantizers and list
  *     schema are frozen between builds (append, delete and compact
  *     land rows under them); the whole record for a graph, whose
  *     adjacency every append and delete rewrites;
  *   - the files of the `_centroids` and `_meta` sidecars, name and
  *     modification time: every build writes them under fresh part
  *     names, so a tree with no state record (a bare `Pq.writeIvfPq`
  *     tree) that is rewritten or swapped by anyone reloads too.
  * On top of that, every graft writer that changes what an entry holds
  * drops it after its last on-disk step ([[writing]]): the builds,
  * rebuild swaps and overwrites of all three kinds, and the graph's
  * append, delete and compact. A miss runs the same load code a cold
  * call always ran, holding only that path's lock, and also drops the
  * entries of trees no longer on disk, so a tree deleted outside graft
  * does not keep its pinned buckets. Dropping a graph entry
  * unpersists its buckets, so a mutation must not race in-flight
  * queries of the same tree in one session (the contract every session
  * memo here already has).
  */
private[graft] object ServingState {

  final case class IvfState(centroids: Array[Array[Float]],
                            hierarchy: Option[Ivf.TwoLevelQuantizer],
                            listSchema: StructType)

  final case class PqState(model: Pq.PersistedModel, listSchema: StructType)

  final case class GraphState(metric: Int, k: Int, centroids: Array[Array[Float]],
                              buckets: RDD[GraphBucket]) {
    /** The centroids as one bucket (member i = list i), so the kernel
      * ranks a query's lists with the arithmetic it ranks members by.
      */
    lazy val centroidBucket: GraphBucket = GraphBucket.assemble(-1,
      centroids.indices.map(c => (c.toLong, centroids(c), c)), Nil, "centroids")

    /** The stored (id, vec, cluster_id) rows, from the pinned buckets.
      * Building the frame runs no job.
      */
    def vectors(spark: SparkSession): DataFrame =
      spark.createDataFrame(buckets.flatMap { b =>
        Iterator.range(0, b.size).map(m => Row(b.ids(m),
          b.vecs.slice(m * b.dim, (m + 1) * b.dim).toSeq, b.clusters(m)))
      }, GraphIndex.VectorSchema)

    override def toString: String =
      s"GraphState(metric=$metric, k=$k, ${buckets.getNumPartitions} buckets)"
  }

  private final case class Stamp(state: Any, sidecars: Seq[(String, Long)])

  private final case class Entry(stamp: Stamp, state: AnyRef)

  // both guarded by `this`; a cold load holds only its path's lock
  private val entries = scala.collection.mutable.HashMap.empty[String, Entry]
  private val loadLocks = scala.collection.mutable.HashMap.empty[String, AnyRef]

  private def key(path: String): String = new Path(path).toString

  private def release(e: Entry): Unit = e.state match {
    case g: GraphState => g.buckets.unpersist()
    case _ => ()
  }

  private def sidecars(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val f = IndexLifecycle.fs(spark, path)
    Seq("_centroids", "_meta").map(new Path(path, _)).filter(f.exists)
      .flatMap(d => f.listStatus(d).toSeq
        .map(s => (s"${d.getName}/${s.getPath.getName}", s.getModificationTime)))
  }

  private def open[T <: AnyRef : ClassTag](spark: SparkSession, path: String,
                                           stateKey: IndexStatus => Any)
                                          (load: => T): T = {
    val k = key(path)
    val stamp = Stamp(stateKey(IndexLifecycle.status(spark, path)), sidecars(spark, path))
    def current: Option[T] =
      synchronized(entries.get(k)).collect { case Entry(`stamp`, s: T) => s }
    current.getOrElse(synchronized(loadLocks.getOrElseUpdate(k, new AnyRef)).synchronized {
      current.getOrElse {
        synchronized(entries.keys.toList)
          .filterNot(p => IndexLifecycle.fs(spark, p).exists(new Path(p))).foreach(drop)
        publish[T](k, Entry(stamp, load))
      }
    })
  }

  /** Install a loaded entry. A racing load of the same stamp that got
    * there first wins and this one is released, so a state a query
    * already holds is never released under it.
    */
  private def publish[T <: AnyRef](k: String, e: Entry): T = synchronized {
    entries.get(k) match {
      case Some(cur) if cur.stamp == e.stamp =>
        release(e)
        cur.state.asInstanceOf[T]
      case old =>
        entries(k) = e
        old.foreach(release)
        e.state.asInstanceOf[T]
    }
  }

  private def frozen(s: IndexStatus): Any = (s.version, s.builtAt)

  def ivf(spark: SparkSession, indexPath: String): IvfState =
    open(spark, indexPath, frozen) {
      val cents = IndexLifecycle.loadCentroids(spark, indexPath)
      IvfState(cents, Ivf.loadHierarchy(spark, indexPath, cents),
        spark.read.parquet(indexPath).schema)
    }

  def pq(spark: SparkSession, indexPath: String): PqState =
    open(spark, indexPath, frozen) {
      PqState(Pq.loadPersistedModel(spark, indexPath),
        spark.read.parquet(indexPath).schema)
    }

  def graph(spark: SparkSession, indexPath: String): GraphState =
    open(spark, indexPath, identity)(GraphIndex.openState(spark, indexPath))

  /** Drop (and release) every entry at or under `path`. */
  def drop(path: String): Unit = synchronized {
    val k = key(path)
    entries.keys.filter(p => p == k || p.startsWith(k + "/")).toList
      .foreach { p => loadLocks.remove(p); entries.remove(p).foreach(release) }
  }

  /** Run a writer of the tree at `path`, dropping its entry after the
    * writer's last on-disk step — also when the writer fails part-way,
    * since a half-written tree must not keep serving the old content.
    */
  def writing[T](path: String)(body: => T): T =
    try body finally drop(path)

  /** Index paths the registry currently holds state for. */
  def openPaths: Set[String] = synchronized(entries.keySet.toSet)

  /** The probed lists of a persisted `cluster_id=` tree, read as
    * explicit list directories under `basePath` with the recorded
    * schema: no inference job, and no listing of the lists a query
    * does not probe. `live` is the root listing the serve path's
    * half-applied-mutation check already made; a probed list absent
    * from it (emptied by a delete) is skipped, so the query ranks the
    * other probed lists. The `cluster_id` filter stays, so the scan
    * still carries its partition filter.
    */
  def probedLists(spark: SparkSession, indexPath: String, schema: StructType,
                  live: Set[Int], probed: Seq[Int]): DataFrame = {
    val paths = probed.filter(live).map(c => s"$indexPath/cluster_id=$c")
    val lists =
      if (paths.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      else spark.read.schema(schema).option("basePath", indexPath).parquet(paths: _*)
    lists.filter(col("cluster_id").isInCollection(probed))
  }
}
