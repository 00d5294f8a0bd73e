package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import scala.util.Random

import graft.model.Message

/** Seeded input generators. Everything a run offers to the program is
  * made here, before the operation that consumes it is timed; the same
  * seed gives the same inputs. Route tables are fixed constants, so the
  * planning work per epoch does not depend on the seed.
  */
object Inputs {

  /** Messages start here and advance `StepMs` each, so an epoch of a few
    * thousand messages spans one or two calendar dates.
    */
  val BaseTimeMs: Long = 1767225600000L // 2026-01-01T00:00:00Z
  val StepMs: Long = 3000L

  def rng(seed: Long, stream: Long): Random =
    new Random(seed * 1000003L + stream * 7919L + 17L)

  def message(topic: String, payload: String, qos: Int, seq: Long): Message =
    Message(topic, payload.getBytes(UTF_8), qos, retain = false,
      new Timestamp(BaseTimeMs + seq * StepMs))

  /** Half-unit values: sums of a few hundred thousand of them stay exact
    * in a double, so expected sums compare exactly.
    */
  def halfUnits(r: Random, max: Int): Double = r.nextInt(max * 2) / 2.0

  // ------------------------------------------------------------ documents

  /** The sf0.1 `documents` table's vocabulary: 30 words, each in about
    * 78% of the documents, plus the `dup` marker of its near-duplicates.
    */
  val Vocabulary: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  val DupMarker = "dup"

  /** Language shares of sf0.1 `documents`: 41% `en`, 15% each of the rest. */
  val Langs: IndexedSeq[String] = IndexedSeq.fill(11)("en") ++
    Seq("de", "es", "fr", "zh").flatMap(l => Seq.fill(4)(l))

  def word(r: Random): String = Vocabulary(r.nextInt(Vocabulary.length))

  final case class Doc(docId: Long, text: String, lang: String)

  /** Documents shaped like sf0.1 `documents`: 10 to 100 words drawn
    * uniformly from [[Vocabulary]] and a language drawn by the shares
    * above. One document in twenty is a copy of another, with ` dup`
    * appended and its language drawn apart (so most copies fall in another
    * language block than their source). Every copy has a source of its
    * own that is not a copy, so near-duplicates form pairs and never
    * chains: the shape of the near-duplicate graph does not depend on the
    * seed.
    */
  def documents(seed: Long, stream: Long, firstId: Long, n: Int): IndexedSeq[Doc] = {
    val r = rng(seed, stream)
    val texts = Array.fill(n)(Seq.fill(10 + r.nextInt(91))(word(r)).mkString(" "))
    val order = r.shuffle((0 until n).toIndexedSeq)
    val dups = order.take(n / 20)
    dups.zip(order.drop(n / 20)).foreach { case (d, src) =>
      texts(d) = texts(src) + " " + DupMarker
    }
    (0 until n).map(i => Doc(firstId + i, texts(i), Langs(r.nextInt(Langs.length))))
  }

  /** BM25 request batch: queries of 2 and 3 distinct terms in turn, drawn
    * like document words, now and then the rare `dup` marker or a term no
    * document contains.
    */
  def requests(seed: Long, stream: Long, n: Int): IndexedSeq[(Long, Seq[String])] = {
    val r = rng(seed, stream)
    val pool = Vocabulary ++ Seq(DupMarker, "zzunseen")
    (0 until n).map(q => (q.toLong, r.shuffle(pool).take(2 + q % 2)))
  }
}
