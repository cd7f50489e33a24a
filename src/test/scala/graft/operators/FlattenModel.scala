package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Reference model of [[Flatten.flatten]]: the fix-point run one
  * analysed Dataset per pass, each pass rewriting the first nested
  * column in schema order — a struct by a `select` of its fields, an
  * array by `explode`/`explode_outer` in place, a map by `map_entries`.
  * One `Generate` per array; obviously right, slow to plan.
  */
object FlattenModel {

  private def quoted(name: String): String =
    "`" + name.replace("`", "``") + "`"

  private def fresh(taken: Set[String], base: String): String =
    if (!taken.contains(base)) base
    else Iterator.from(1).map(i => s"${base}_$i").find(!taken.contains(_)).get

  private def isNested(dt: DataType): Boolean =
    dt match {
      case _: StructType | _: ArrayType | _: MapType => true
      case _                                         => false
    }

  def flatten(df: DataFrame, outer: Boolean = false, sep: String = "_"): DataFrame = {
    @annotation.tailrec
    def loop(cur: DataFrame): DataFrame = {
      val fields = cur.schema.fields
      val idx = fields.indexWhere(f => isNested(f.dataType))
      if (idx < 0) cur
      else {
        val f = fields(idx)
        val otherNames = fields.zipWithIndex.collect {
          case (g, i) if i != idx => g.name
        }.toSet
        val next = f.dataType match {
          case st: StructType =>
            var taken = otherNames
            val cols = fields.zipWithIndex.flatMap {
              case (g, i) if i != idx => Seq(col(quoted(g.name)))
              case _ =>
                st.fields.toSeq.map { sf =>
                  val name = fresh(taken, s"${f.name}$sep${sf.name}")
                  taken += name
                  col(s"${quoted(f.name)}.${quoted(sf.name)}").alias(name)
                }
            }
            cur.select(cols.toSeq: _*)
          case _: ArrayType =>
            val gen =
              if (outer) explode_outer(col(quoted(f.name)))
              else explode(col(quoted(f.name)))
            val cols = fields.zipWithIndex.map {
              case (g, i) if i != idx => col(quoted(g.name))
              case _                  => gen.alias(f.name)
            }
            cur.select(cols.toSeq: _*)
          case _: MapType =>
            cur.withColumn(f.name, map_entries(col(quoted(f.name))))
        }
        loop(next)
      }
    }
    loop(df)
  }
}
