package perfbench

/** Exact results of the LLM operators, computed on the driver in plain
  * Scala from the collected inputs. None of this calls engine code, so a
  * defect in a shared engine helper (shingling, quantisation) cannot
  * change both the operator's output and the reference it is checked
  * against. Each function restates the operator's documented contract. */
object Reference {

  /** Distinct word n-grams of a space-separated text; none when the text
    * has fewer than n tokens. */
  def shingles(text: String, n: Int): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < n) Set.empty
    else (0 to t.length - n).map(i => t.slice(i, i + n).mkString(" ")).toSet
  }

  /** Document frequency of every shingle over the given shingle sets. */
  private def docFreq(sets: Iterable[Set[String]]): Map[String, Int] =
    sets.iterator.flatten.toSeq.groupMapReduce(identity)(_ => 1)(_ + _)

  /** Exact n-gram Jaccard pairs (a < b) with |A ∩ B| / |A ∪ B| >=
    * `threshold`. Shingles held by more than `maxShingleFreq` documents do
    * not count towards the intersection; the set sizes stay whole. */
  def jaccardPairs(docs: Seq[(Long, String)], n: Int, threshold: Double,
      maxShingleFreq: Int = 1000): Set[(Long, Long)] = {
    val sets = docs.map { case (id, text) => id -> shingles(text, n) }.toMap
    val holders = sets.toSeq.flatMap { case (id, s) => s.map(_ -> id) }.groupMap(_._1)(_._2)
    val common = holders.valuesIterator.filter(_.size <= maxShingleFreq).flatMap { ids =>
      val sorted = ids.sorted
      for (i <- sorted.indices.iterator; j <- (i + 1 until sorted.size).iterator)
        yield (sorted(i), sorted(j))
    }.toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)
    common.collect { case ((a, b), c)
      if c.toDouble / (sets(a).size + sets(b).size - c) >= threshold => (a, b)
    }.toSet
  }

  /** Boilerplate counts (doc_id, n_units, n_boiler): a document's distinct
    * word n-grams, and how many of them occur in at least `minDocs`
    * documents. Documents with fewer than n tokens are absent. */
  def boilerplate(docs: Seq[(Long, String)], n: Int, minDocs: Int): Seq[(Long, Long, Long)] = {
    val sets = docs.map { case (id, text) => id -> shingles(text, n) }.filter(_._2.nonEmpty)
    val freq = docFreq(sets.map(_._2))
    sets.map { case (id, s) => (id, s.size.toLong, s.count(freq(_) >= minDocs).toLong) }
  }

  /** Cosine top-k (query_id, rank, neighbor_id) of each query against every
    * other vector accepted by `candidate(query, vector)`, on the engine's
    * documented fixed-point form: components quantised to
    * floor(x · `scale` + 0.5), exact integer dot products, cosine =
    * (dot / |q|) / |v|, ties broken by the smaller neighbour id. */
  def cosineTopK(vectors: Seq[(Long, Array[Float])], queries: Seq[Long], k: Int,
      scale: Long)(candidate: (Long, Long) => Boolean): Seq[(Long, Int, Long)] = {
    val quantised = vectors.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * scale + 0.5).toLong)
    }.toMap
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val norm = quantised.map { case (id, q) => id -> math.sqrt(dot(q, q).toDouble) }
    queries.flatMap { qid =>
      val q = quantised(qid)
      quantised.iterator.filter { case (id, _) => id != qid && candidate(qid, id) }
        .map { case (id, v) => (-((dot(q, v).toDouble / norm(qid)) / norm(id)), id) }
        .toSeq.sorted.take(k).zipWithIndex
        .map { case ((_, id), r) => (qid, r + 1, id) }
    }
  }
}
