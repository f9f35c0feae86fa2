package graft.query

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.query.ServedTopK.TermDict

/** The term-dictionary walks behind every served expansion
  * ([[Wand.Expansion]] over a [[ServedTopK.TermDict]]): each must return
  * exactly what its brute-force predicate — [[Wand.withinDistance]],
  * [[Wand.rlike]], `startsWith` — accepts over every term, in cap
  * order, however it prunes the dictionary. */
class TermWalkSpec extends AnyFunSuite {

  // ASCII, BMP above U+E000 (where UTF-16 and code-point order
  // disagree), supplementary pairs, and both halves of a pair alone —
  // concatenated, a lone high and a lone low half may pair up
  private val symbols = Seq("a", "b", "w", "1", "2", "\u00E9", "\uE000", "\uFB01", "\uFFFF",
    "\uD800\uDC00", "\uD83D\uDE00", "\uD801\uDC00", "\uD83D", "\uDE00")

  private def word(rnd: Random, n: Int): String = Seq.fill(n)(symbols(rnd.nextInt(symbols.size))).mkString

  /** A seeded dictionary: terms under shared stems, `w<k>` terms, and
    * short random words; dfs 1 to 3, so the fuzzy cap ties on df. */
  private def dictionary(seed: Int): TermDict = {
    val rnd = new Random(seed)
    val stems = Seq.fill(25)(word(rnd, 1 + rnd.nextInt(3)))
    val terms = Seq.fill(500)(stems(rnd.nextInt(stems.size)) + word(rnd, rnd.nextInt(4))) ++
      Seq.fill(400)("w" + rnd.nextInt(2000)) ++ Seq.fill(150)(word(rnd, 1 + rnd.nextInt(6)))
    TermDict(terms.distinct.iterator.map(_ -> (1L + rnd.nextInt(3))))
  }

  /** The first `cap` terms `p` accepts, brute force, in `e`'s cap order. */
  private def bruteForce(d: TermDict, e: Wand.Expansion, cap: Int)(p: String => Boolean): Seq[(String, Long)] = {
    val all = d.terms.indices.filter(j => p(d.terms(j))).map(j => (d.terms(j), d.dfs(j)))
    (if (e.byDf) all.sorted(ServedTopK.byDfThenTerm) else all).take(cap)
  }

  private def check(d: TermDict, e: Wand.Expansion, p: String => Boolean, what: String): Unit = {
    assert(e.walk(d).toSeq === d.terms.indices.filter(j => p(d.terms(j))), s"$what: walk")
    for (cap <- Seq(1, 3, 50))
      assert(Wand.capped(d, e, cap) === bruteForce(d, e, cap)(p), s"$what: cap $cap")
  }

  test("fuzzy walk == withinDistance over every term, d = 0, 1, 2, in df-then-term cap order") {
    for (seed <- 1 to 4) {
      val rnd = new Random(100 + seed)
      val d = dictionary(seed)
      val fromDict = Seq.fill(12)(d.terms(rnd.nextInt(d.terms.length)))
      val edited = fromDict.map { t =>
        val i = rnd.nextInt(t.length + 1)
        t.take(i) + word(rnd, rnd.nextInt(2)) + t.drop(i + rnd.nextInt(2))
      }
      // longer than every term; empty; lone halves; w<k>
      val patterns = fromDict ++ edited ++ Seq(word(rnd, 30), "", "\uD83D", "a\uDE00", "w17", "w1999", "www")
      for (t <- patterns; dist <- 0 to 2)
        check(d, Wand.FuzzyOf(t, dist), Wand.withinDistance((t, dist)), s"seed $seed fuzzy <$t> d=$dist")
    }
  }

  test("fuzzy walk: the jump past a dead prefix's run lands on the first term after it") {
    // "ab..." is dead for "b" at d=0 after one row; "b" follows the run
    val d = TermDict(Iterator("ab", "abc", "abd", "b", "ba").map(_ -> 1L))
    assert(d.withinDistance("b", 0).map(d.terms).toSeq === Seq("b"))
    assert(d.withinDistance("b", 1).map(d.terms).toSeq === Seq("ab", "b", "ba"))
    // a dead prefix ending in a lone high surrogate is not jumped: the
    // next term pairs it with a low one
    val s = TermDict(Iterator("x\uD83D", "x\uD83D\uDE00").map(_ -> 1L))
    assert(s.withinDistance("\uD83D\uDE00", 1).map(s.terms).toSeq === Seq("x\uD83D\uDE00"))
    assert(Wand.withinDistance(("\uD83D\uDE00", 1))("x\uD83D\uDE00"))
  }

  test("regexp walk == rlike over every term: |, a?b, a*, a{2}, \\Q, classes, (?i), groups") {
    val bodies = Seq("w1.*|a.*", "a?b.*", "wa?1.*", "a*b.*", "w1*", "a{2}.*", "ww{0}1.*", "\\Qw1\\E.*",
      "w[12].*", "[ab]b.*", "(?i)W1.*", "w1(?i)2.*", "ab+.*", "w1+2", ".*", "w12", "\u00E9.*",
      "\uD800\uDC00.*", "\uD801\uDC00a?.*", "(?:ab)?b.*", "(?:w1)*2.*", "(ab)?.*", "w1(?:2|3)")
    val raw = Seq("^w1.*$", "^w1", "w1", "^(?:ab)*b", "^ab{0}", "^(?:(?:ab)c)?.*", "^(?:w1)+.*$")
    for (seed <- 1 to 4) {
      val rnd = new Random(200 + seed)
      val d = dictionary(seed)
      val stems = Seq.fill(6)(java.util.regex.Pattern.quote(word(rnd, 2)) + ".*")
      for (rx <- (bodies ++ stems).map("^(?:" + _ + ")$") ++ raw)
        check(d, Wand.RegexpOf(rx), Wand.rlike(rx), s"seed $seed regexp <$rx>")
    }
  }

  test("regexLiteral: the letters and digits every match starts with") {
    val cases = Seq(
      "^(?:w5[0-9]1[0-9]*)$" -> "w5", "^w1.*$" -> "w1", "^(?:(?:abc))$" -> "abc", "^(?:abc)$" -> "abc",
      "^(?:ab?c)$" -> "a", "^(?:abc*)$" -> "ab", "^(?:ab+)$" -> "a", "^(?:ab{2})$" -> "a",
      "^(?:\uD801\uDC00a?)$" -> "\uD801\uDC00", "^(?:a\uD801\uDC00*)$" -> "a",
      // no literal run: the whole dictionary
      "^(?:ab|cd)$" -> "", "^(?:(?i)ab)$" -> "", "ab" -> "", "^(?:ab)?c$" -> "", "^(?:ab){0,2}$" -> "",
      "^(?:ab)c$" -> "", "^(?:(?:ab)c)?d$" -> "", "^(?:ab\\(c)$" -> "",
      "^\\Qab\\E" -> "", "^(?:[ab]c)$" -> "", "^(?:.*ab)$" -> "", "^(?:\uD83D\uDE00a)$" -> "")
    for ((rx, lit) <- cases) assert(Wand.regexLiteral(rx) === lit, rx)
  }

  test("prefix and wildcard walks == startsWith / the wildcard regex over every term") {
    for (seed <- 1 to 4) {
      val rnd = new Random(300 + seed)
      val d = dictionary(seed)
      val prefixes = Seq("", "w", "w1", "w19", "\uD83D", "\uD800\uDC00", word(rnd, 40)) ++ symbols ++
        Seq.fill(8)(word(rnd, 1 + rnd.nextInt(2)))
      for (p <- prefixes) check(d, Wand.PrefixOf(p), _.startsWith(p), s"seed $seed prefix <$p>")
      val wildcards = Seq("*", "?", "w1*", "w?2*", "*1", "a*b", "\uD83D\uDE00*", "?\uE000*", word(rnd, 40) + "*") ++
        Seq.fill(8) { val t = word(rnd, 3); t.take(rnd.nextInt(t.length)) + (if (rnd.nextBoolean()) "*" else "?") }
      for (w <- wildcards)
        check(d, Wand.WildcardOf(w), Wand.rlike(Wand.wildcardRegex(w)), s"seed $seed wildcard <$w>")
    }
  }

  test("merged sorted runs == the dictionary of all their entries") {
    for (seed <- 1 to 3) {
      val d = dictionary(seed)
      val rnd = new Random(seed)
      val runs = d.terms.indices.groupBy(_ => rnd.nextInt(5)).values.toSeq :+ IndexedSeq.empty[Int]
      val merged = TermDict.merge(runs.map(js => TermDict(js.iterator.map(j => d.terms(j) -> d.dfs(j)))))
      assert(merged.terms.toSeq === d.terms.toSeq)
      assert(merged.dfs.toSeq === d.dfs.toSeq)
    }
  }
}
