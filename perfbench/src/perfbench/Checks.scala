package perfbench

import scala.collection.mutable

/** Reference computations the benchmark checks the program's outputs
  * against. They are written from the specifications (the MQTT filter
  * rules, the documented integer BM25 formula, min-id connected
  * components, character 3-gram Jaccard) in plain Scala, share no code
  * with the program and never touch Spark.
  *
  * Text rules assume what the generator produces: ASCII words separated
  * by single spaces, where `trim`/`lower`/whitespace splitting and
  * collapsing in Spark and in the JDK agree.
  */
object Checks {

  /** MQTT topic-filter match, segment by segment: `+` matches exactly one
    * level (the empty level too), a final `#` matches the remaining levels
    * including none (so `a/#` matches `a`), and anything else — a `#` that
    * is not last, or a wildcard sharing a level with other characters —
    * matches only itself.
    */
  def mqttMatches(filter: String, topic: String): Boolean = {
    val f = filter.split("/", -1)
    val t = topic.split("/", -1)
    var i = 0
    while (i < f.length) {
      val s = f(i)
      if (s == "#" && i == f.length - 1) return true
      if (i >= t.length || (s != "+" && s != t(i))) return false
      i += 1
    }
    i == t.length
  }

  /** Index of the first filter matching `topic`, or -1 (unmatched). */
  def firstMatch(filters: IndexedSeq[String], topic: String): Int =
    filters.indexWhere(mqttMatches(_, topic))

  /** The whitespace-normalised text the n-gram operators hash. */
  def normText(text: String): String =
    text.trim.toLowerCase.replaceAll("\\s+", " ")

  /** Distinct character n-grams; a string no longer than `n` is one gram. */
  def charGrams(s: String, n: Int): Set[String] =
    if (s.length <= n) Set(s)
    else (0 to s.length - n).map(i => s.substring(i, i + n)).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Component label of every node: the smallest node id reachable from
    * it over `edges` (a union-find with path halving).
    */
  def componentLabels(
      nodes: Iterable[Long],
      edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap[Long, Long]()
    nodes.foreach(n => parent(n) = n)
    def find(x: Long): Long = {
      var v = x
      while (parent(v) != v) {
        parent(v) = parent(parent(v))
        v = parent(v)
      }
      v
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // the smaller root wins, so every root is its component's minimum
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** Whitespace-split lower-case tokens of a document. */
  def tokens(text: String): Array[String] =
    text.trim.toLowerCase.split(" +").filter(_.nonEmpty)

  /** BM25 over a growing document set, scored with the integer lattice
    * the text index documents:
    * {{{
    *   idf        = ((N - df + 1) * 10^6) div (df + 1)
    *   norm_milli = (1000 - b) + (b * dl * N) div T
    *   score(d)   = sum over query terms t in d of
    *                (idf * tf * (1000 + k1)) div (tf * 1000 + (k1 * norm_milli) div 1000)
    * }}}
    * with k1 = 1200 and b = 750 (per mille), N the document count, T the
    * total token count, and ties broken by ascending doc id.
    */
  final class Bm25Corpus(k1: Long = 1200L, b: Long = 750L) {
    private val tf = mutable.HashMap[Long, Map[String, Long]]()
    private val dl = mutable.HashMap[Long, Long]()
    private val df = mutable.HashMap[String, Long]()
    private var totalTokens = 0L

    def add(docId: Long, text: String): Unit = {
      require(!tf.contains(docId), s"doc $docId added twice")
      val toks = tokens(text)
      val counts = toks.groupBy(identity).map { case (t, ts) => t -> ts.length.toLong }
      tf(docId) = counts
      dl(docId) = toks.length.toLong
      counts.keys.foreach(t => df(t) = df.getOrElse(t, 0L) + 1L)
      totalTokens += toks.length
    }

    def nDocs: Long = tf.size.toLong

    /** Top-`k` (doc id, score) pairs for one query, in rank order. */
    def topK(terms: Seq[String], k: Int): Seq[(Long, Long)] = {
      val n = nDocs
      val ts = terms.map(_.toLowerCase).distinct
      val scores = mutable.HashMap[Long, Long]()
      tf.foreach { case (doc, counts) =>
        ts.foreach { t =>
          counts.get(t).foreach { f =>
            val d = df(t)
            val idf = ((n - d + 1L) * 1000000L) / (d + 1L)
            val norm = (1000L - b) + (b * dl(doc) * n) / totalTokens
            val s = (idf * f * (1000L + k1)) / (f * 1000L + (k1 * norm) / 1000L)
            scores(doc) = scores.getOrElse(doc, 0L) + s
          }
        }
      }
      scores.toSeq.sortBy { case (doc, s) => (-s, doc) }.take(k)
    }
  }
}
