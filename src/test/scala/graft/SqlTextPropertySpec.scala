package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.SqlText

/** Property tests for the statement-boundary tokenizer — the piece of
  * the frontend that must never mis-split regardless of what literals
  * and nesting user SQL contains. (Raw ScalaCheck generators sampled
  * with fixed seeds: the scalatest-scalacheck bridge isn't in the
  * offline dependency set.)
  */
class SqlTextPropertySpec extends AnyFunSuite {

  private def samples[T](gen: Gen[T], n: Int = 100): Seq[T] =
    (0 until n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val atom: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(s => if (s.isEmpty) "x" else s.take(8)),
    // string literal with embedded separators and escaped quotes
    Gen.alphaNumStr.map(s => s"'${s.take(4)},)('' '"),
    // parenthesized group with embedded commas
    Gen.alphaNumStr.map(s => s"(a, b, ${s.take(4)})"))

  test("splitTopLevel returns exactly the top-level items") {
    samples(Gen.nonEmptyListOf(atom)).foreach { items =>
      val joined = items.mkString(", ")
      val split = SqlText.splitTopLevel(joined, ',')
      assert(split.size == items.size, s"input: $joined")
      assert(split.map(_.trim) == items.map(_.trim))
    }
  }

  test("splitTopLevel never splits inside parens or quotes") {
    samples(Gen.listOfN(3, atom)).foreach { items =>
      val inner = items.mkString(", ")
      val wrapped = s"f($inner), 'a,b', last"
      val split = SqlText.splitTopLevel(wrapped, ',')
      assert(split == Seq(s"f($inner)", "'a,b'", "last"), s"input: $wrapped")
    }
  }

  test("splitTopLevel never splits inside comments (MySQL syntax)") {
    // a ';' inside '--', '#', or '/* */' must not fracture the
    // statement (the JDBC allowMultiQueries hazard)
    assert(SqlText.splitTopLevel("select 1 -- tail; not a split\n", ';')
      == Seq("select 1 -- tail; not a split"))
    assert(SqlText.splitTopLevel("select 1 # tail; not a split", ';')
      == Seq("select 1 # tail; not a split"))
    assert(SqlText.splitTopLevel("select /* mid; comment */ 1", ';')
      == Seq("select /* mid; comment */ 1"))
    // a comment BETWEEN statements still leaves two statements
    assert(SqlText.splitTopLevel(
      "select 1 /* c1; */; select 2 -- done; really\n", ';')
      == Seq("select 1 /* c1; */", "select 2 -- done; really"))
    // MySQL rule: '--' not followed by whitespace is NOT a comment
    assert(SqlText.splitTopLevel("select 3--2; select 1", ';')
      == Seq("select 3--2", "select 1"))
    // '--' at end of input is a comment even with nothing after it
    assert(SqlText.splitTopLevel("select 1 --", ';')
      == Seq("select 1 --"))
    // unterminated block comment swallows the rest (no split)
    assert(SqlText.splitTopLevel("select 1 /* open; forever", ';')
      == Seq("select 1 /* open; forever"))
    // quotes inside comments don't open strings
    assert(SqlText.splitTopLevel("select 1 -- it's fine; ok\n; select 2", ';')
      == Seq("select 1 -- it's fine; ok", "select 2"))
    // comment text inside a string literal is NOT a comment
    assert(SqlText.splitTopLevel("select '-- not; a comment'; select 2", ';')
      == Seq("select '-- not; a comment'", "select 2"))
  }

  test("substituteParams replaces every ? exactly once, escaping quotes") {
    val param: Gen[Any] = Gen.oneOf[Any](
      Gen.alphaNumStr.map(_.take(6) + "'quote"),
      Gen.chooseNum(-1000000L, 1000000L),
      Gen.chooseNum(-100.0, 100.0))
    samples(Gen.listOfN(3, param)).foreach { params =>
      val sql = "insert into t values (?, ?, ?)"
      val out = SqlText.substituteParams(sql, params)
      assert(SqlText.countParams(out) == 0)
      params.foreach {
        case n: Long => assert(out.contains(n.toString))
        case d: Double => assert(out.contains(d.toString))
        case _ => ()
      }
    }
  }

  test("countParams ignores ? inside string literals") {
    assert(SqlText.countParams("select '?' , ? from t where a = '??'") == 1)
  }

  test("substituteVars never rewrites inside string literals") {
    val sql = "select '@@version', '@user', 'database()' from dual"
    val out = SqlText.substituteVars(sql, Map.empty, "v", Some("s"))
    assert(out == sql)
  }

  test("ident strips backticks and lowercases") {
    samples(Gen.alphaNumStr.suchThat(_.nonEmpty)).foreach { s =>
      assert(SqlText.ident(s"`${s.toUpperCase}`") == s.toLowerCase)
      assert(SqlText.ident(s.toUpperCase) == s.toLowerCase)
    }
  }
}
