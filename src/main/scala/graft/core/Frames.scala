package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Variable-binding discipline for pattern lowering.
  *
  * The reference executes with a flat `Frame` — a vector of `TypedValue`
  * slots indexed by symbol position (`src/query/interpret/frame.hpp:58-71`).
  * Our frame is a DataFrame whose columns are namespaced per bound variable:
  * binding node `n` contributes columns `n@_id`, `n@_labels`, `n@<prop>`…
  * That keeps every binding columnar (pruned + codegen'd by Catalyst) instead
  * of packing rows into structs, and makes multi-binding of the same label
  * (e.g. `(a:Customer)-[:KNOWS]->(b:Customer)`) collision-free.
  */
object Frames {

  val Sep = "@"

  /** Rename every column of `df` into variable `v`'s namespace. */
  def bind(v: String)(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => named(c).as(s"$v$Sep$c")).toSeq: _*)

  /** The column called `name`, taken literally: a property key may hold a
    * dot or a backtick, which `col` would parse. */
  def named(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Column of variable `v`'s field `name` (meta `_id`/`_src`/… or prop). */
  def f(v: String, name: String): Column = named(s"$v$Sep$name")

  def id(v: String): Column = f(v, GraphState.IdCol)
  def src(v: String): Column = f(v, GraphState.SrcCol)
  def dst(v: String): Column = f(v, GraphState.DstCol)

  /** All frame columns belonging to variable `v`. */
  def colsOf(df: DataFrame, v: String): Seq[String] =
    df.columns.filter(_.startsWith(s"$v$Sep")).toSeq

  /** Drop a variable's columns from the frame (end of symbol scope). */
  def unbind(df: DataFrame, vars: Seq[String]): DataFrame = {
    val drop = vars.flatMap(v => colsOf(df, v))
    if (drop.isEmpty) df else df.drop(drop: _*)
  }
}
