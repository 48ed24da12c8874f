package graft.model

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.formula.Term
import graft.functions.FreqItemsAgg

/** Formula term → Spark `Column` design-matrix compiler.
  *
  * Mirrors the semantics of the reference's SQL model-matrix generator
  * (reference sql_model_matrix.R:34-175): factor (string/boolean) columns
  * expand to one-hot dummy columns dropping the first (reference) level,
  * interactions take the cross product of per-variable expansions, and a
  * factor inside an interaction keeps ALL levels unless it is an FE var or
  * the complementary term is itself in the model (the drop_ref rule,
  * sql_model_matrix.R:115-121). Emits `Column`s, not SQL strings — the
  * resulting plan is fully Catalyst-optimizable (codegen'd CASE WHEN).
  */
object ModelMatrix {

  /** One design-matrix column: internal name uses `_x_` for interactions
    * (display-normalized to `:` later, reference utils.R:6). */
  final case class MMCol(name: String, col: Column)

  final case class Expansion(cols: List[MMCol])

  /** Structural form of one design column: a product of atoms. Both the
    * Spark `Column` renderer (below) and the SQL-text renderer
    * (graft.reg.SqlGen) consume this, so the engine's design matrix and the
    * `sqlOnly` output cannot diverge. */
  sealed trait Atom
  /** Numeric variable, cast to double. */
  final case class NumericAtom(v: String) extends Atom
  /** One-hot dummy: 1.0 when `v` (as string) equals `level`. */
  final case class DummyAtom(v: String, level: String) extends Atom
  /** Constant (single-level factor degrades to this). */
  final case class ConstAtom(value: Double) extends Atom
  /** Pass-through main effect (reference `expand = "interactions"` mode). */
  final case class RawAtom(v: String) extends Atom

  final case class DesignCol(name: String, atoms: List[Atom])

  final case class StructExpansion(cols: List[DesignCol])

  /** A factor column is string-, boolean-typed (reference
    * sql_model_matrix.R:87-98 treats character/factor/logical as factors). */
  def isFactor(df: DataFrame, v: String): Boolean =
    df.schema(v).dataType match {
      case StringType | BooleanType => true
      case _ => false
    }

  /** Scoped factor-level hint: an operator that CONSTRUCTS its own factor
    * column (Dbbinsreg's `__binf` bin labels) already knows the exact,
    * sorted level set — probing it back out of the data costs one
    * distinct-collect job per fit for information the caller had in hand.
    * `withLevelHint` brackets a fit so [[levels]] reads the hinted vars'
    * levels instead of probing (r16, guide §2.4: remove the redundant
    * pass). Thread-scoped (plan construction is synchronous on the calling
    * thread) and exception-safe via DynamicVariable.withValue; hints must
    * be the SORTED distinct level list — exactly what the probe
    * would have returned. */
  private val levelHints =
    new scala.util.DynamicVariable[Map[String, Seq[String]]](Map.empty)

  private[graft] def withLevelHint[T](hints: Map[String, Seq[String]])(body: => T): T =
    levelHints.withValue(levelHints.value ++ hints)(body)

  /** Default cap on the levels one factor may expand into. */
  private[graft] val DefaultMaxLevels = 100000

  /** [[levels]] of one factor (reference `SELECT DISTINCT v … ORDER BY v`). */
  def factorLevels(df: DataFrame, v: String, maxLevels: Int = DefaultMaxLevels): Seq[String] =
    levels(df, Seq(v), maxLevels)(v)

  /** Distinct non-null levels of each of `vars` (hinted ones skip the
    * probe), sorted in Spark's string order, from ONE aggregate: a
    * Misra-Gries summary of `maxLevels + 1` counters per var, so memory is
    * bounded and the answer exact up to `maxLevels`. A var with more levels
    * refuses — a regressor should be absorbed as a fixed effect; one of
    * `absorbed` (already a fixed effect) needs a strategy without dummies. */
  private[graft] def levels(
      df: DataFrame,
      vars: Seq[String],
      maxLevels: Int = DefaultMaxLevels,
      absorbed: Seq[String] = Nil
  ): Map[String, Seq[String]] = {
    require(maxLevels >= 1 && maxLevels < Int.MaxValue, s"maxLevels out of range: $maxLevels")
    val hints = levelHints.value
    val probe = vars.distinct.filterNot(hints.contains)
    val probed: Map[String, Seq[String]] =
      if (probe.isEmpty) Map.empty
      else {
        val aggs = probe.flatMap { v =>
          val s = col(v).cast(StringType)
          Seq(FreqItemsAgg(s, maxLevels + 1), count(s))
        }
        val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
        probe.zipWithIndex.map { case (v, i) =>
          val items = row.getSeq[Row](2 * i)
          // the kept counts add up to the non-null rows only when the
          // summary evicted nothing (an eviction round can empty it)
          require(items.length <= maxLevels &&
            items.map(_.getLong(1)).sum == row.getLong(2 * i + 1),
            s"'$v' has more than $maxLevels levels, too many for dummy columns; " +
              (if (absorbed.contains(v)) "raise compressNmax or use" // already a fixed effect
               else s"absorb it as a fixed effect (`| $v`) with") +
              " the demean, mundlak or hdfe strategy")
          v -> items.map(_.getString(0)).sortWith(FreqItemsAgg.byteLt).toSeq
        }.toMap
      }
    vars.distinct.map(v => v -> hints.getOrElse(v, probed(v))).toMap
  }

  /** Expand formula terms into the structural (renderer-independent) form,
    * given pre-discovered factor levels. All drop-ref / intercept semantics
    * live here and ONLY here. */
  def expandStructure(
      terms: List[Term],
      levels: Map[String, Seq[String]],
      feVars: Seq[String],
      intercept: Boolean = true,
      expandMains: Boolean = true
  ): StructExpansion = {
    val allLabels: Set[String] = terms.map(t => t.parts.mkString(":")).toSet

    // R semantics: in a no-intercept formula the FIRST factor term keeps all
    // its levels (it absorbs the intercept's role).
    val firstFactorMain: Option[String] =
      if (intercept) None
      else terms.collectFirst {
        case t if !t.isInteraction && levels.contains(t.parts.head) => t.parts.head
      }

    val cols = terms.flatMap { term =>
      if (!term.isInteraction && !expandMains) {
        // reference `expand = "interactions"`: main effects pass through
        List(DesignCol(term.parts.head, List(RawAtom(term.parts.head))))
      } else {
        val expansions: List[List[DesignCol]] = term.parts.map { v =>
          val dropRef =
            if (term.isInteraction && levels.contains(v)) {
              val otherSorted = term.parts.filterNot(_ == v).sorted.mkString(":")
              feVars.contains(v) || allLabels.contains(otherSorted)
            } else !(firstFactorMain.contains(v) && !term.isInteraction)
          expandVariable(v, levels, dropRef)
        }
        crossProduct(expansions)
      }
    }
    // de-duplicate by name, preserving first occurrence (mirrors R terms())
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, DesignCol]
    cols.foreach(c => if (!seen.contains(c.name)) seen(c.name) = c)
    StructExpansion(seen.values.toList)
  }

  /** Render one atom as a Spark `Column`. */
  def atomCol(a: Atom): Column = a match {
    case NumericAtom(v) => col(v).cast(DoubleType)
    case DummyAtom(v, lvl) => when(col(v).cast(StringType) === lit(lvl), 1.0).otherwise(0.0)
    case ConstAtom(x) => lit(x)
    case RawAtom(v) => col(v)
  }

  // reduceRight preserves the historical a*(b*(c…)) association (float
  // multiply is not associative; oracle hashes depend on the exact tree)
  def renderCol(dc: DesignCol): MMCol =
    MMCol(dc.name, dc.atoms.map(atomCol).reduceRight(_ * _))

  /** Expand formula terms into design columns over `df`. */
  def expand(
      df: DataFrame,
      terms: List[Term],
      feVars: Seq[String],
      maxLevels: Int = DefaultMaxLevels,
      intercept: Boolean = true,
      expandMains: Boolean = true
  ): Expansion = {
    val factors = terms.flatMap(_.parts).distinct.filter(isFactor(df, _))
    val st = expandStructure(terms, levels(df, factors, maxLevels), feVars, intercept,
      expandMains)
    Expansion(st.cols.map(renderCol))
  }

  /** Factor → dummy list (drop first level when dropRef); numeric passes
    * through cast to double. Single-level factors degrade to a constant
    * (reference sql_model_matrix.R:138-140). */
  private def expandVariable(
      v: String,
      levels: Map[String, Seq[String]],
      dropRef: Boolean
  ): List[DesignCol] =
    levels.get(v) match {
      case Some(lvls) if lvls.length >= 2 =>
        val kept = if (dropRef) lvls.tail else lvls
        kept.toList.map(lvl => DesignCol(s"$v$lvl", List(DummyAtom(v, lvl))))
      case Some(_) => List(DesignCol(s"${v}_constant", List(ConstAtom(1.0))))
      case None => List(DesignCol(v, List(NumericAtom(v))))
    }

  private def crossProduct(expansions: List[List[DesignCol]]): List[DesignCol] =
    expansions match {
      case Nil => Nil
      case single :: Nil => single
      case first :: rest =>
        val tail = crossProduct(rest)
        for (a <- first; b <- tail)
          yield DesignCol(s"${a.name}_x_${b.name}", a.atoms ++ b.atoms)
    }

  /** `_x_` → `:` for user-facing coefficient names (reference utils.R:6). */
  def displayName(internal: String): String = internal.replace("_x_", ":")

  /** Public design-matrix compiler — the Spark analogue of the reference's
    * exported `sql_model_matrix()` (reference sql_model_matrix.R:34-68):
    * appends one numeric column per design term to `df`.
    *
    * @param expandMains when false (reference `expand = "interactions"`),
    *   main-effect factors pass through unexpanded and only interactions
    *   are one-hot crossed.
    */
  def designMatrix(
      df: DataFrame,
      rhsTerms: List[Term],
      feVars: Seq[String] = Nil,
      intercept: Boolean = true,
      expandMains: Boolean = true
  ): DataFrame = {
    val e = expand(df, rhsTerms, feVars, intercept = intercept, expandMains = expandMains)
    df.select(df.columns.toIndexedSeq.map(col) ++ e.cols.map(c => c.col.as(c.name)): _*)
  }
}
