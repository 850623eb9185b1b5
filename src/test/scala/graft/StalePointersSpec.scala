package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Structural guard against pointers to deleted code: every
  * `runMain graft.…` line in the README and the SKILL.md recipes must name a
  * class that loads and has a `main`, every `examples.<Name>` a
  * source file mentions must name an existing class, and every
  * `examples.<Name>` or fully qualified `graft.<pkg>.<Name>` the living docs
  * mention must load or sit in a paragraph that says "removed; see git",
  * and every backticked `Object.member` in COVERAGE.md and ARCHITECTURE.md,
  * like every qualified `[[Object.member]]` scaladoc link in src/main,
  * must name a member that object's source declares. Pure text plus reflection, no
  * SparkSession needed. */
class StalePointersSpec extends AnyFunSuite {

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  private def load(name: String): Option[Class[_]] =
    try Some(Class.forName(name, false, getClass.getClassLoader))
    catch { case _: ClassNotFoundException => None }

  private val runMain = """runMain\s+(graft\.[\w.]+)""".r

  // the README plus every SKILL.md build-and-run recipe near the root
  private val docs = Paths.get("README.md") +:
    Files.walk(Paths.get("."), 4).iterator.asScala
      .filter(_.getFileName.toString == "SKILL.md").toSeq.sorted

  for (doc <- docs)
    test(s"every runMain line in $doc names a loadable main") {
      val names = runMain.findAllMatchIn(read(doc))
        .map(_.group(1)).toSeq.distinct
      assert(names.nonEmpty, s"$doc no longer has any runMain line")
      for (n <- names) {
        val cls = load(n)
        assert(cls.isDefined, s"$doc runs $n, which is not a class")
        assert(cls.get.getMethods.exists(m => m.getName == "main" &&
            m.getParameterTypes.sameElements(Seq(classOf[Array[String]]))),
          s"$doc runs $n, which has no main(Array[String])")
      }
    }

  private val ref = """examples[./]([A-Z]\w*)""".r

  test("every examples.<Name> in src/main and src/test names an existing class") {
    val refs = for {
      root <- Seq("src/main/scala", "src/test/scala")
      f <- Files.walk(Paths.get(root)).iterator.asScala.toSeq
      if f.toString.endsWith(".scala")
      m <- ref.findAllMatchIn(read(f))
    } yield (f, m.group(1))
    assert(refs.nonEmpty, "no examples.<Name> pointer found — regex drift?")
    for ((f, n) <- refs.distinct)
      assert(load(s"graft.examples.$n").isDefined,
        s"$f names examples.$n, which does not exist")
  }

  // the docs that describe the code as it is now; VERDICT*.md is a
  // historical record and keeps the names it was written with
  private val livingDocs =
    Seq("README.md", "ARCHITECTURE.md", "COVERAGE.md", "SCALING.md")
      .map(Paths.get(_)) ++
    Files.list(Paths.get(".")).iterator.asScala
      .filter(_.getFileName.toString.matches("OPTIMIZATION_r.*\\.md"))
      .toSeq.sorted

  // a paragraph is a blank-line-separated block, except that each
  // markdown table row stands alone (a table is one block of many rows)
  private def paragraphs(text: String): Seq[String] =
    text.split("\n\\s*\n").toSeq.flatMap { block =>
      val (rows, rest) = block.split("\n").toSeq.partition(_.startsWith("|"))
      rows ++ Seq(rest.mkString("\n")).filter(_.nonEmpty)
    }

  // (doc, match) for every `re` match in a living-doc paragraph that does
  // not say "removed; see git"
  private def liveRefs(re: scala.util.matching.Regex): Seq[(Path, String)] =
    (for {
      doc <- livingDocs
      para <- paragraphs(read(doc))
      if !para.contains("removed; see git")
      m <- re.findAllMatchIn(para)
    } yield (doc, m.group(1))).distinct

  test("every examples.<Name> in the living docs exists or is marked removed") {
    val refs = liveRefs(ref)
    assert(refs.nonEmpty, "no live examples.<Name> pointer found — regex drift?")
    for ((doc, n) <- refs)
      assert(load(s"graft.examples.$n").isDefined,
        s"$doc names examples.$n, which does not exist, in a paragraph " +
          "that does not say \"removed; see git <sha>\"")
  }

  // graft.<pkg>.<Name> up to the first capitalized segment, so a member
  // reference (graft.core.Materialize.inParallel) checks its owner
  private val qualified = """(?<![\w.])(graft\.(?:[a-z]\w*\.)*[A-Z]\w*)""".r

  test("every graft.<pkg>.<Name> in the living docs loads or is marked removed") {
    val refs = liveRefs(qualified)
    assert(refs.nonEmpty, "no live graft.<pkg>.<Name> pointer found — regex drift?")
    for ((doc, n) <- refs)
      assert(load(n).orElse(load(n + "$")).isDefined,
        s"$doc names $n, which is neither a class nor an object, in a " +
          "paragraph that does not say \"removed; see git <sha>\"")
  }

  // a backtick span that opens with [pkg.]Object.member, with an optional
  // `/member` list: `ads.Serving.gmv/bySpu`, `Tables.load(...)`
  private val memberRef = """`(?:[a-z]\w*\.)*([A-Z]\w*)\.(\w+(?:/\w+)*)""".r

  // a qualified scaladoc link: [[pkg.Object.member]] or [[Object.member]];
  // an unqualified [[member]] names no owner and is not checked here
  private val linkRef = """\[\[(?:[a-z]\w*\.)*([A-Z]\w*)\.(\w+)""".r

  test("every backticked Object.member in COVERAGE.md and ARCHITECTURE.md exists") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).map(p => (p, read(p))).toSeq
    val sources = files.map(_._2)
    val refs = (for {
      doc <- Seq("COVERAGE.md", "ARCHITECTURE.md")
      m <- memberRef.findAllMatchIn(read(Paths.get(doc)))
      member <- m.group(2).split('/')
    } yield (doc, m.group(1), member)).distinct
    assert(refs.size > 100, s"only ${refs.size} Object.member refs — regex drift?")
    val links = (for {
      (p, text) <- files
      m <- linkRef.findAllMatchIn(text)
    } yield (p.toString, m.group(1), m.group(2))).distinct
    assert(links.size > 50, s"only ${links.size} [[Object.member]] links — regex drift?")
    for ((doc, obj, member) <- refs ++ links) {
      val owners = sources.filter(
        ("""(?m)^\s*(?:\w+(?:\[\w+\])?\s+)*(?:object|class|trait)\s+""" + obj + """\b""")
          .r.findFirstIn(_).isDefined)
      assert(owners.nonEmpty, s"$doc names $obj.$member; no src/main file declares $obj")
      val decl = ("""\b(?:def|val|var|object|class|type)\s+""" +
        java.util.regex.Pattern.quote(member) + """\b""").r
      assert(owners.exists(decl.findFirstIn(_).isDefined),
        s"$doc names $obj.$member, which $obj's source does not declare")
    }
  }
}
