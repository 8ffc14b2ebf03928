package graft.search

import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Statistics,
  UserDefinedPredicate}
import org.apache.parquet.io.api.Binary
import org.apache.spark.unsafe.types.UTF8String

/** Row check of a dictionary scan (wildcard, regexp, fuzzy, suggest) on the
  * `term` column, run by the terms reader's record filter, so a term that
  * fails it never counts toward a file's row cap. Statistics cannot rule it
  * out: the `field` and byte-range predicates it is ANDed with prune. The
  * checks follow Spark's `rlike`, and `length` and `levenshtein` over code
  * points.
  */
private[search] sealed abstract class TermCheck
    extends UserDefinedPredicate[Binary] with Serializable {
  def canDrop(s: Statistics[Binary]): Boolean = false
  def inverseCanDrop(s: Statistics[Binary]): Boolean = false
  def predicate: FilterPredicate =
    FilterApi.userDefined[Binary, TermCheck](FilterApi.binaryColumn("term"), this)
}

/** The whole term matches `pattern`: `rlike` on `^(?:pattern)$`. */
private[search] final case class RegexCheck(pattern: String) extends TermCheck {
  @transient private lazy val rx = java.util.regex.Pattern.compile(s"^(?:$pattern)$$")
  def keep(term: Binary): Boolean = term != null && rx.matcher(term.toStringUsingUTF8).find()
}

/** Within `maxEdits` classic Levenshtein edits of `q`: a length window, then
  * the distance, both in code points.
  */
private[search] final case class FuzzyCheck(q: String, maxEdits: Int) extends TermCheck {
  @transient private lazy val u = UTF8String.fromString(q)
  def keep(term: Binary): Boolean = term != null && {
    val t = UTF8String.fromBytes(term.getBytesUnsafe)
    math.abs(t.numChars - u.numChars) <= maxEdits && t.levenshteinDistance(u) <= maxEdits
  }
}
