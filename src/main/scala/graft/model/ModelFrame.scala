package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.formula.Formula
import graft.model.ModelMatrix.{ConstAtom, DesignCol, DummyAtom, MMCol}

/** The one front door from a formula and a DataFrame to design rows, taken
  * by every estimator before it compiles the formula to aggregates (the
  * reference's `sql_model_matrix()` after R's `na.omit`): [[prepare]] prunes
  * and drops incomplete rows, [[buildDesign]] lays out the design frame,
  * [[designCols]] / [[feDummyCols]] give the same layout in structural form
  * for compress. Levels come from [[ModelMatrix.levels]], drop-ref and
  * interactions from [[ModelMatrix.expandStructure]].
  */
private[graft] object ModelFrame {

  /** Internal name of the response column in a design frame. */
  val Y = "__g_y"

  /** `df` holds the carried columns, [[Y]] and the design columns as
    * `xNames`; `displayNames` and `cols` (expressions over the input, for
    * prediction) run parallel. The intercept is an explicit constant column
    * so that collinearity dropping and the meats treat it uniformly. */
  final case class Design(
      df: DataFrame,
      xNames: IndexedSeq[String],
      displayNames: IndexedSeq[String],
      cols: List[MMCol]
  )

  /** The formula's columns plus `extra` (cluster, offset, instrument, id or
    * group columns) and `weights`, each validated; a row is dropped when
    * any is NULL or a float/double NaN (R's `na.omit`), or its weight is
    * ≤ 0. Spelled `isNotNull && !isnan`, so `IsNotNull` reaches the scan. */
  def prepare(
      df: DataFrame,
      f: Formula,
      extra: Seq[String] = Nil,
      weights: Option[String] = None
  ): DataFrame = {
    val needed = (f.allInputCols ++ extra ++ weights).distinct
    needed.foreach(c =>
      require(df.columns.contains(c), s"column '$c' not found in DataFrame"))
    val present = needed.map { c =>
      df.schema(c).dataType match {
        case FloatType | DoubleType => col(c).isNotNull && !isnan(col(c))
        case _ => col(c).isNotNull
      }
    }
    df.select(needed.map(col): _*)
      .filter((present ++ weights.map(w => col(w) > 0.0)).reduce(_ && _))
  }

  /** `(Intercept)` when both `intercept` and the formula ask for it, then
    * the expanded terms. Drop-ref follows the FORMULA's intercept (the
    * user's `0 +`); `intercept` only controls the constant column, which
    * absorbing strategies leave out. `levels`: the factor regressors'. */
  def designCols(f: Formula, levels: Map[String, Seq[String]], intercept: Boolean)
      : List[DesignCol] =
    (if (intercept && f.intercept) List(DesignCol("(Intercept)", List(ConstAtom(1.0))))
     else Nil) ++ ModelMatrix.expandStructure(f.terms, levels, f.fe, f.intercept).cols

  /** One dummy per non-reference level of each fixed effect (compress). */
  def feDummyCols(fe: Seq[String], levels: Map[String, Seq[String]]): List[DesignCol] =
    fe.toList.flatMap(v =>
      levels(v).drop(1).map(lvl => DesignCol(s"$v$lvl", List(DummyAtom(v, lvl)))))

  /** `carry`, then [[Y]], then one `__g_x$i` per design column, as double. */
  def buildDesign(base: DataFrame, f: Formula, carry: Seq[String], intercept: Boolean)
      : Design = {
    val factors = f.xvars.filter(ModelMatrix.isFactor(base, _))
    val all = designCols(f, ModelMatrix.levels(base, factors), intercept)
      .map(ModelMatrix.renderCol)
    val xNames = all.indices.map(i => s"__g_x$i")
    Design(
      base.select(carry.distinct.map(col) ++ Seq(col(f.y).cast("double").as(Y)) ++
        all.zipWithIndex.map { case (c, i) => c.col.cast("double").as(xNames(i)) }: _*),
      xNames, all.map(c => ModelMatrix.displayName(c.name)).toIndexedSeq, all)
  }

  /** [[prepare]] then [[buildDesign]], carrying `extra`. */
  def design(df: DataFrame, f: Formula, extra: Seq[String] = Nil, intercept: Boolean = true)
      : Design =
    buildDesign(prepare(df, f, extra), f, extra, intercept)
}
