package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick multi-pattern matching (public algorithm, Aho & Corasick
  * 1975): ONE automaton holds the whole pattern set, so per-document cost
  * is O(text length + matches) — independent of how many thousand patterns
  * the blocklist carries. The complement of
  * [[graft.ops.Curation.blocklistHits]]'s token-L-gram join: this one is a
  * raw SUBSTRING matcher (URLs, obfuscations, scripts without word
  * boundaries) with no join, no explode, no shuffle — the automaton rides
  * inside the serialized expression like [[BpeKernel]]'s rank table.
  *
  * Match semantics: every occurrence of every pattern is counted,
  * including overlapping occurrences and patterns contained inside other
  * patterns' matches (standard AC dictionary semantics — the
  * dictionary-suffix chain is pre-merged into per-node output lists).
  */
object AhoCorasick {

  /** Immutable matching automaton. Build once per expression instance. */
  final class Automaton(val patterns: IndexedSeq[String]) extends Serializable {
    require(patterns.nonEmpty, "pattern set must be non-empty")
    require(patterns.forall(_.nonEmpty), "patterns must be non-empty strings")

    // trie over chars; goto maps are per-node hash maps (pattern alphabets
    // are tiny relative to text, and build cost is pattern-sized)
    private val gotoMaps =
      scala.collection.mutable.ArrayBuffer(
        new java.util.HashMap[Character, Integer]())
    private val ends =
      scala.collection.mutable.ArrayBuffer(Array.empty[Int])
    patterns.zipWithIndex.foreach { case (p, pi) =>
      var node = 0
      var i = 0
      while (i < p.length) {
        val c = Character.valueOf(p.charAt(i))
        var nxt = gotoMaps(node).get(c)
        if (nxt == null) {
          gotoMaps += new java.util.HashMap[Character, Integer]()
          ends += Array.empty[Int]
          nxt = Integer.valueOf(gotoMaps.size - 1)
          gotoMaps(node).put(c, nxt)
        }
        node = nxt.intValue()
        i += 1
      }
      ends(node) = ends(node) :+ pi
    }
    private val fail = new Array[Int](gotoMaps.size)
    // out(node) = ends(node) ++ out(fail(node)), pre-merged during the BFS
    private val out = new Array[Array[Int]](gotoMaps.size)
    locally {
      val queue = new java.util.ArrayDeque[Integer]()
      out(0) = ends(0)
      gotoMaps(0).forEach { (_, v) =>
        fail(v) = 0
        out(v.intValue()) = ends(v.intValue())
        queue.add(v)
      }
      while (!queue.isEmpty) {
        val u = queue.poll().intValue()
        gotoMaps(u).forEach { (c, v) =>
          var f = fail(u)
          while (f != 0 && !gotoMaps(f).containsKey(c)) f = fail(f)
          val t = gotoMaps(f).get(c)
          fail(v) = if (t != null && t.intValue() != v.intValue()) t.intValue() else 0
          out(v.intValue()) = ends(v.intValue()) ++ out(fail(v))
          queue.add(v)
        }
      }
    }

    /** Add each pattern's occurrence count in `text` into `counts`
      * (length = patterns.size).
      */
    def countInto(text: String, counts: Array[Long]): Unit = {
      var state = 0
      var i = 0
      while (i < text.length) {
        val c = Character.valueOf(text.charAt(i))
        while (state != 0 && !gotoMaps(state).containsKey(c)) state = fail(state)
        val t = gotoMaps(state).get(c)
        state = if (t == null) 0 else t.intValue()
        val o = out(state)
        var j = 0
        while (j < o.length) { counts(o(j)) += 1L; j += 1 }
        i += 1
      }
    }

    def count(text: String): Array[Long] = {
      val counts = new Array[Long](patterns.size)
      countInto(text, counts)
      counts
    }
  }
}

/** The model literal of [[MultiPatternCount]]: the pattern set, whose
  * automaton is built once per task (model-sized).
  */
final class PatternSet(patterns: Seq[String], lowercase: Boolean) extends KernelModel {
  protected def state: Array[AnyRef] = Array(patterns, Boolean.box(lowercase))
  @transient private lazy val automaton = new AhoCorasick.Automaton(patterns.toIndexedSeq)

  def multi_pattern_count(text: UTF8String): ArrayData = {
    val raw = text.toString
    UnsafeArrayData.fromPrimitiveArray(
      automaton.count(if (lowercase) raw.toLowerCase(java.util.Locale.ROOT) else raw))
  }
}

/** MultiPatternCount — string → array<bigint> of per-pattern occurrence
  * counts under ONE Aho–Corasick automaton (see [[AhoCorasick]]). When
  * `lowercase` is set the text is lowercased first (patterns must then be
  * lowercase themselves — enforced).
  *
  * Scale shape: narrow per-row work, cost O(|text| + matches) independent
  * of pattern count; the automaton is built lazily once per task from the
  * serialized pattern list ([[PatternSet]]).
  */
case class MultiPatternCount(child: Expression, patterns: Seq[String],
                             lowercase: Boolean = true)
    extends KernelExpression with UnaryLike[Expression] {
  require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
    "patterns must be non-empty strings")
  require(!lowercase || patterns.forall(p => p == p.toLowerCase(java.util.Locale.ROOT)),
    "lowercase matching requires lowercase patterns")

  override def prettyName: String = "multi_pattern_count"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string input, got ${t.simpleString}")
  }

  override lazy val replacement: Expression = invokeModel(new PatternSet(patterns, lowercase),
    prettyName, Seq(KernelExpression.typed(child, StringType)))

  override protected def withNewChildInternal(newChild: Expression): MultiPatternCount =
    copy(child = newChild)
}
