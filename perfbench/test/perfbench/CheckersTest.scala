package perfbench

/** Hand-worked cases for the reference computations in [[Checks]]. Run
  * with `python3 perfbench/build.py --test`; exits non-zero on a failure.
  */
object CheckersTest {
  private var failures = 0

  private def expect(what: String, got: Any, want: Any): Unit =
    if (got != want) {
      failures += 1
      println(s"FAIL $what: got $got, want $want")
    }

  /** The reference router's truth table (router_test.go:9-36) plus the
    * parent-level, non-final `#` and partial-level wildcard rules.
    */
  def mqtt(): Unit = {
    Seq(
      ("ruuvi/sensor1", "ruuvi/sensor1", true),
      ("#", "any/topic/here", true),
      ("ruuvi/+", "ruuvi/sensor1", true),
      ("ruuvi/+", "ruuvi/sensor1/data", false),
      ("ruuvi/#", "ruuvi/sensor1/data", true),
      ("ruuvi/+/#", "ruuvi/sensor1/data/temp", true),
      ("ruuvi/+", "p1ib/sensor1", false),
      ("ruuvi/+/data", "ruuvi//data", true),
      ("devices/+/telemetry", "devices/sensor123/telemetry", true),
      ("devices/+/telemetry", "devices/sensor123/status", false),
      ("a/#", "a", true),
      ("a/+/#", "a/b", true),
      ("a/#", "ab", false),
      ("a/#/b", "a/#/b", true),
      ("a/#/b", "a/x/b", false),
      ("a+b", "aXb", false),
      ("a+b", "a+b", true)
    ).foreach { case (f, t, want) => expect(s"mqttMatches($f, $t)", Checks.mqttMatches(f, t), want) }
    val filters = IndexedSeq("site/1/#", "site/+/hall/#", "+/+/hall/d1")
    expect("first match wins", Checks.firstMatch(filters, "site/1/hall/d1"), 0)
    expect("second route", Checks.firstMatch(filters, "site/2/hall/d1"), 1)
    expect("third route", Checks.firstMatch(filters, "ext/2/hall/d1"), 2)
    expect("unmatched", Checks.firstMatch(filters, "ext/2/roof/d1"), -1)
  }

  /** Three documents, worked by hand with N = 3, T = 9, k1 = 1.2, b = 0.75:
    *
    *   d1 "apple banana apple"  dl 3
    *   d2 "banana cherry"       dl 2
    *   d3 "cherry cherry cherry date"  dl 4
    *
    * idf(apple) = (3-1+1)*10^6 div 2 = 1500000; idf(banana) = idf(cherry) =
    * (3-2+1)*10^6 div 3 = 666666.
    * norm(d1) = 250 + 750*3*3 div 9 = 1000; norm(d2) = 250 + 750*2*3 div 9 = 750;
    * norm(d3) = 250 + 750*4*3 div 9 = 1250.
    * "apple banana":
    *   d1 = 1500000*2*2200 div (2000 + 1200) + 666666*1*2200 div (1000 + 1200)
    *      = 2062500 + 666666 = 2729166
    *   d2 = 666666*2200 div (1000 + 900) = 771929
    * "cherry": d3 = 666666*3*2200 div (3000 + 1500) = 977776,
    *           d2 = 771929, so d3 ranks first.
    */
  def bm25(): Unit = {
    val c = new Checks.Bm25Corpus()
    c.add(1, "apple banana apple")
    c.add(2, "banana cherry")
    c.add(3, "cherry cherry cherry date")
    expect("bm25 apple banana", c.topK(Seq("apple", "Banana"), 10),
      Seq((1L, 2729166L), (2L, 771929L)))
    expect("bm25 cherry", c.topK(Seq("cherry"), 10), Seq((3L, 977776L), (2L, 771929L)))
    expect("bm25 top-1", c.topK(Seq("cherry"), 1), Seq((3L, 977776L)))
    expect("bm25 unseen term", c.topK(Seq("zebra"), 10), Seq())
  }

  /** Edges 5-3, 3-9, 7-8 over nodes 1..9: components {3,5,9} -> 3, {7,8} -> 7,
    * and every other node labels itself.
    */
  def components(): Unit = {
    val labels = Checks.componentLabels(1L to 9L, Seq((5L, 3L), (3L, 9L), (7L, 8L)))
    expect("components", labels, Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 3L,
      6L -> 6L, 7L -> 7L, 8L -> 7L, 9L -> 3L))
  }

  /** "abcd" has grams {abc, bcd}; "abce" has {abc, bce}: Jaccard 1/3. */
  def grams(): Unit = {
    expect("grams", Checks.charGrams("abcd", 3), Set("abc", "bcd"))
    expect("short string is one gram", Checks.charGrams("ab", 3), Set("ab"))
    expect("jaccard", Checks.jaccard(Checks.charGrams("abcd", 3), Checks.charGrams("abce", 3)), 1.0 / 3)
    expect("normText", Checks.normText("  Two   Words "), "two words")
  }

  def main(args: Array[String]): Unit = {
    mqtt()
    bm25()
    components()
    grams()
    if (failures > 0) sys.exit(1)
    println("CheckersTest: all cases pass")
  }
}
