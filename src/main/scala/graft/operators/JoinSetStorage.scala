package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The `ENGINE = Join` / `ENGINE = Set` storage analogs (ref
  * `src/Storages/StorageJoin.cpp`, `StorageSet.cpp`,
  * `src/Functions/FunctionJoinGet.cpp`): pre-materialized right-hand
  * sides registered BY NAME, looked up with `joinGet` /
  * `joinGetOrNull` scalars or joined/filtered through the DataFrame
  * helpers.
  *
  * Memory model mirrors the reference: both engines hold the whole
  * table in an in-memory hash on every node (the reference persists a
  * backup to disk and reloads; here the registered frame is collected
  * once — dimension-sized by contract — and rides to executors in the
  * UDF closure, like [[Dictionaries]]). For big right sides use an
  * ordinary broadcast join instead — the same advice the reference
  * gives for Join-engine tables that stop fitting memory.
  *
  * Key semantics (00561/01080 goldens): ANY keeps the FIRST row per
  * key; a NULL key never joins; `joinGet` on a miss returns the value
  * column's type default ('' / 0 / epoch), `joinGetOrNull` NULL.
  */
object JoinSetStorage {

  final case class JoinTable(
      keyCol: String,
      strictness: String,
      kind: String,
      valueTypes: Map[String, org.apache.spark.sql.types.DataType],
      rows: Map[Any, Map[String, Any]])

  private val joins = TrieMap.empty[String, JoinTable]
  private val sets = TrieMap.empty[String, Set[Any]]

  private def normKey(k: Any): Any = k match {
    case n: java.lang.Byte => n.longValue()
    case n: java.lang.Short => n.longValue()
    case n: java.lang.Integer => n.longValue()
    case n: java.lang.Long => n.longValue()
    case other => other
  }

  /** CREATE TABLE name (…) ENGINE = Join(strictness, kind, keyCol). */
  def createJoin(name: String, df: DataFrame, keyCol: String,
      strictness: String = "ANY", kind: String = "LEFT"): Unit = {
    val s = strictness.toUpperCase
    require(s == "ANY" || s == "SEMI", s"joinGet storage supports ANY/SEMI, got $strictness")
    val valueCols = df.schema.fields.filter(_.name != keyCol)
    val keyIdx = df.schema.fieldIndex(keyCol)
    val out = scala.collection.mutable.LinkedHashMap.empty[Any, Map[String, Any]]
    df.collect().foreach { r =>
      val k = r.get(keyIdx)
      if (k != null) { // NULL keys never join (01080)
        val nk = normKey(k)
        if (!out.contains(nk)) // ANY = first row per key wins
          out += nk -> valueCols.map(f => f.name -> r.getAs[Any](f.name)).toMap
      }
    }
    joins.put(name, JoinTable(keyCol, s, kind.toUpperCase,
      valueCols.map(f => f.name -> f.dataType).toMap, out.toMap))
  }

  def dropJoin(name: String): Unit = joins.remove(name)

  private def table(name: String): JoinTable =
    joins.getOrElse(name, throw new IllegalArgumentException(
      s"unknown Join table: $name"))

  private[graft] def joinGetRaw(name: String, attr: String, key: Any): Option[Any] = {
    val t = table(name)
    require(t.valueTypes.contains(attr),
      s"Join table $name has no column $attr")
    if (key == null) None else t.rows.get(normKey(key)).flatMap(m => Option(m(attr)))
  }

  private def typeDefault(name: String, attr: String): Any =
    graft.sources.FormatCodec.defaultValue(table(name).valueTypes(attr))

  /** The DataFrame face of `SEMI/ANY LEFT JOIN join_table USING key`:
    * every registered value column joins on as a lookup (broadcast by
    * the closure, no shuffle of `df`).
    */
  def joinWith(df: DataFrame, name: String, keyExpr: Column): DataFrame = {
    val t = table(name)
    val attrs = t.valueTypes.keys.toSeq.sorted
    attrs.foldLeft(df) { (acc, a) =>
      val dt = t.valueTypes(a)
      val look = udf(new org.apache.spark.sql.api.java.UDF1[Any, Any] {
        override def call(k: Any): Any = joinGetRaw(name, a, k).orNull
      }, dt)
      acc.withColumn(a, look(keyExpr))
    }
  }

  /** CREATE TABLE name (…) ENGINE = Set. */
  def createSet(name: String, df: DataFrame): Unit = {
    val vals = df.collect().iterator
      .map(r => r.get(0)).filter(_ != null).map(normKey).toSet
    sets.put(name, vals)
  }

  def dropSet(name: String): Unit = sets.remove(name)

  def inSetValue(name: String, v: Any): Boolean = {
    val s = sets.getOrElse(name, throw new IllegalArgumentException(
      s"unknown Set table: $name"))
    v != null && s.contains(normKey(v))
  }

  /** SQL surface: joinGet / joinGetOrNull (untyped names yield the
    * display string form like the untyped dictGet — the reference
    * resolves the column type at analysis time, a SQL UDF cannot), and
    * `inSet(name, x)` as the `x IN set_table` predicate.
    */
  def register(r: graft.functions.FunctionSurface.Registrar): Unit = {
    def toStr(v: Any): String = v match {
      case b: Array[Byte] => new String(b, "UTF-8")
      case other => String.valueOf(other)
    }
    r.udf("joinGet", udf((t: String, a: String, k: Long) =>
      toStr(joinGetRaw(t, a, k).getOrElse(typeDefault(t, a)))))
    r.udf("joinGetOrNull", udf((t: String, a: String, k: Long) =>
      joinGetRaw(t, a, k).map(toStr).orNull))
    r.udf("joinGetString", udf((t: String, a: String, k: String) =>
      toStr(joinGetRaw(t, a, k).getOrElse(typeDefault(t, a)))))
    r.udf("inSet", udf((n: String, v: Long) => inSetValue(n, v)))
    r.udf("inSetString", udf((n: String, v: String) => inSetValue(n, v)))
  }
}
