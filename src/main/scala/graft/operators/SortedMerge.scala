package graft.operators

import org.apache.spark.rdd.RDD

/**
 * K-way merge of already-sorted inputs WITHOUT re-sorting (SURVEY §2 S11/P4,
 * §4 "shuffle-free merge of pre-sorted inputs"). Catalyst cannot exploit
 * external pre-sortedness; at 100 TB, re-shuffling N already-sorted clusters
 * on every merge is the single biggest avoidable cost — this is the faithful
 * heap-merge of SortMergeInputFormat.java:247-277, expressed as
 * zipPartitions over partition-aligned RDDs (align clusters with
 * [[graft.sources.zipnum.ZipNumReader.rangesRdd]]).
 */
object SortedMerge {

  /** Merge sorted iterators into one sorted iterator (streaming heap). */
  def mergeIterators[T](iters: Seq[Iterator[T]])
                       (implicit ord: Ordering[T]): Iterator[T] = {
    val nonEmpty = iters.map(_.buffered).filter(_.hasNext)
    if (nonEmpty.isEmpty) return Iterator.empty
    val heap = new scala.collection.mutable.PriorityQueue[BufferedIterator[T]]()(
      Ordering.by[BufferedIterator[T], T](_.head)(ord.reverse))
    heap ++= nonEmpty
    new Iterator[T] {
      override def hasNext: Boolean = heap.nonEmpty
      override def next(): T = {
        val top = heap.dequeue()
        val v = top.next()
        if (top.hasNext) heap.enqueue(top)
        v
      }
    }
  }

  /** Merge partition-aligned sorted RDDs: partition i of every input covers
    * the same key range and is internally sorted ⇒ zero-shuffle merge with
    * the same ranges, still sorted — partition i is output shard i when
    * ClusterOps.merge writes it through the `zipnum` sink. */
  def merge(rdds: Seq[RDD[String]]): RDD[String] = {
    implicit val keyOrder: Ordering[String] = graft.util.KeyOrder
    require(rdds.nonEmpty, "nothing to merge")
    val n = rdds.head.getNumPartitions
    require(rdds.forall(_.getNumPartitions == n),
      "inputs must be partition-aligned (same boundary set)")
    // balanced reduction tree: a left-nested reduce chain would drag every
    // element through N-1 stacked two-way merges (O(N) comparisons per
    // line when compacting N generations); pairing per round keeps the
    // merge depth at ceil(log2 N)
    var layer = rdds
    while (layer.size > 1)
      layer = layer.grouped(2).map {
        case Seq(a, b) =>
          a.zipPartitions(b, preservesPartitioning = true)(
            (x, y) => mergeIterators(Seq(x, y)))
        case Seq(a) => a
      }.toSeq
    layer.head
  }
}
