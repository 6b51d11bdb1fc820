package graft.functions

import java.math.BigInteger
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.api.java.{UDF1, UDF2, UDF3}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{UnresolvedExtractValue, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Expression, Explode, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Scalar tranche 18 — the frequency-ranked head of the §2.9 residual
  * list (names counted as call sites across the reference's own
  * `tests/queries/0_stateless` SQL corpus):
  *
  *  - `arrayJoin` (884 hits) — the row-multiplying "scalar"
  *    (ref `src/Functions/array/arrayJoin.cpp`): registered as a plan-time
  *    front over Catalyst's `Explode` generator, so `SELECT arrayJoin(a)`
  *    duplicates the row per element exactly like the reference. Spark
  *    allows ONE generator per SELECT (multiple arrayJoins in one select
  *    need a lateral view chain) — documented deviation.
  *  - `file` (ref `src/Functions/file.cpp`) — whole-file read as String,
  *    optional default on a missing file.
  *  - `finalizeAggregation` / `initializeAggregation`
  *    (ref `src/Functions/finalizeAggregation.cpp`,
  *    `initializeAggregation.cpp`) over THIS engine's mergeable state
  *    representation ([[StateCombinators]]: scalar states, (sum,count)
  *    avg pairs, DataSketches-HLL uniq states — interoperable with
  *    `hll_union_agg`).
  *  - `randConstant` — one random UInt32 per QUERY (plan-time literal;
  *    the reference's per-block constant collapses to per-plan in a
  *    declarative engine).
  *  - `arrayEnumerateUniqRanked` / `arrayEnumerateDenseRanked`
  *    (ref `src/Functions/array/arrayEnumerateRanked.h` — semantics
  *    replayed from the header's own worked examples, pinned to the
  *    00909 goldens in ScalarTranche18Spec).
  *  - `isDecimalOverflow` (ref `src/Functions/isDecimalOverflow.cpp`).
  *  - plan-time introspection: `isConstant`, `isNullable`,
  *    `defaultValueOfArgumentType`, `defaultValueOfTypeName`,
  *    `getSubcolumn`, `getSetting`, `indexHint`, `hasColumnInTable` —
  *    all resolvable at analysis time in a declarative engine.
  *  - tuple utilities: `tupleToNameValuePairs`, `flattenTuple`, `nested`.
  *  - the wide tails: `reinterpretAs{Int128,UInt128,Int256,UInt256}` and
  *    `to{Int128,UInt128,Int256,UInt256,Decimal256}OrDefault`.
  */
object ScalarTranche18 {

  // ------------------------------------------------------------------
  // plan-time type introspection (constant once the child resolves)
  // ------------------------------------------------------------------

  /** isNullable / defaultValueOfArgumentType need the CHILD's resolved
    * type, which a registry builder cannot see — so a foldable
    * expression defers until resolution and ConstantFolding collapses
    * it to a literal before execution.
    */
  case class TypeIntrospection(child: Expression, kind: String)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = kind match {
      case "isNullable" | "isConstant" => ShortType // UInt8 convention
      case "defaultValue" | "zeroValue" => child.dataType
      case other => throw new IllegalArgumentException(other)
    }
    override def foldable: Boolean = true
    override def nullable: Boolean = kind == "defaultValue" && child.nullable
    override def eval(input: InternalRow): Any = kind match {
      case "isNullable" => if (child.nullable) 1.toShort else 0.toShort
      case "isConstant" =>
        // checked AFTER resolution (a registry builder sees unresolved
        // children, where foldable is always false for function calls)
        if (child.foldable) 1.toShort else 0.toShort
      case "defaultValue" =>
        // the reference's Nullable(T) default IS NULL
        if (child.nullable) null else zeroOf(child.dataType)
      case "zeroValue" =>
        // the NON-null type zero, independent of Spark nullability —
        // what the running family's "type default" means (a nullable
        // parquet Int64 is still the reference's Int64, default 0)
        zeroOf(child.dataType)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** The reference's per-type default (DataTypeX::getDefault): numeric 0,
    * empty string, epoch date/time, empty composites. Catalyst-internal
    * representation (this feeds Literal folding).
    */
  def zeroOf(dt: DataType): Any = dt match {
    case ByteType => 0.toByte
    case ShortType => 0.toShort
    case IntegerType | DateType => 0
    case LongType | TimestampType | TimestampNTZType => 0L
    case FloatType => 0f
    case DoubleType => 0d
    case BooleanType => false
    case StringType => UTF8String.fromString("")
    case BinaryType => Array.emptyByteArray
    case d: DecimalType =>
      org.apache.spark.sql.types.Decimal(java.math.BigDecimal.ZERO, d.precision, d.scale)
    case _: ArrayType => new GenericArrayData(Array.empty[Any])
    case _: MapType =>
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new GenericArrayData(Array.empty[Any]), new GenericArrayData(Array.empty[Any]))
    case s: StructType => InternalRow.fromSeq(s.fields.toSeq.map(f =>
      if (f.nullable) null else zeroOf(f.dataType)))
    case other => throw new IllegalArgumentException(s"no default for $other")
  }

  // ------------------------------------------------------------------
  // finalizeAggregation over the engine's state representation
  // ------------------------------------------------------------------

  /** Finalize a [[StateCombinators]] state by TYPE: an HLL sketch
    * (binary) estimates to UInt64; a (sum, count) struct finalizes to
    * the Float64 average; scalar sum/min/max/count states are already
    * final (identity) — the reference's finalizeAggregation over
    * AggregateFunction columns, mapped onto this engine's states.
    */
  case class FinalizeAggregation(child: Expression)
      extends UnaryExpression with CodegenFallback {
    private lazy val mode: String = child.dataType match {
      case BinaryType => "hll"
      case s: StructType if s.length == 2 &&
        s.forall(f => f.dataType.isInstanceOf[NumericType]) => "avg"
      case _ => "identity"
    }
    override def dataType: DataType = mode match {
      case "hll" => LongType
      case "avg" => DoubleType
      case _ => child.dataType
    }
    override def nullSafeEval(v: Any): Any = mode match {
      case "hll" =>
        val bytes = v.asInstanceOf[Array[Byte]]
        // a wide-int/Decimal256 binary is ALREADY final (min/max/any
        // states over wide values are the value) — error loudly rather
        // than feeding a tagged wide encoding to the sketch parser and
        // returning garbage
        val wideTagged = bytes.length match {
          case 17 | 33 => (bytes(0) & 0xff) match {
            case 0x10 | 0x11 | 0x20 | 0x21 => true
            case _ => false
          }
          case 34 => bytes(0) == WideDecimal.Tag
          case _ => false
        }
        if (wideTagged) throw new IllegalArgumentException(
          "finalizeAggregation: binary value is a wide-integer/Decimal256 " +
            "encoding, which is already final (min/max/any states over " +
            "wide values need no finalize) — only HLL uniq states " +
            "finalize from binary")
        Math.round(org.apache.datasketches.hll.HllSketch.heapify(
          org.apache.datasketches.memory.Memory.wrap(bytes)).getEstimate)
      case "avg" =>
        val row = v.asInstanceOf[InternalRow]
        val s = child.dataType.asInstanceOf[StructType]
        def num(i: Int): Double = s(i).dataType match {
          case LongType => row.getLong(i).toDouble
          case IntegerType => row.getInt(i).toDouble
          case DoubleType => row.getDouble(i)
          case FloatType => row.getFloat(i).toDouble
          case d: DecimalType => row.getDecimal(i, d.precision, d.scale).toDouble
          case other => throw new IllegalArgumentException(s"avg state: $other")
        }
        num(0) / num(1)
      case _ => v
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // ------------------------------------------------------------------
  // nested / tupleToNameValuePairs / flattenTuple
  // ------------------------------------------------------------------

  /** `nested(['k','v'], a1, a2)` → array of named tuples zipping the
    * arrays (ref `src/Functions/nested.cpp`). Names must be a foldable
    * string array; arrays must share lengths per row.
    */
  case class NestedArrays(children: Seq[Expression])
      extends Expression with CodegenFallback {
    private lazy val names: Seq[String] = children.head match {
      case e if e.foldable =>
        e.eval(null).asInstanceOf[ArrayData].toArray[UTF8String](StringType)
          .toSeq.map(_.toString)
      case _ => throw new IllegalArgumentException(
        "nested: first argument must be a constant array of names")
    }
    private lazy val arrays = children.tail
    override def dataType: DataType = {
      require(names.length == arrays.length,
        s"nested: ${names.length} names for ${arrays.length} arrays")
      ArrayType(StructType(names.zip(arrays).map { case (n, a) =>
        val at = a.dataType.asInstanceOf[ArrayType]
        StructField(n, at.elementType, at.containsNull)
      }), containsNull = false)
    }
    override def nullable: Boolean = children.exists(_.nullable)
    override def eval(input: InternalRow): Any = {
      val vals = arrays.map(_.eval(input))
      if (vals.contains(null)) return null
      val ads = vals.map(_.asInstanceOf[ArrayData])
      val n = ads.head.numElements()
      require(ads.forall(_.numElements() == n),
        "nested: arrays must have equal lengths")
      val elemTypes = arrays.map(_.dataType.asInstanceOf[ArrayType].elementType)
      new GenericArrayData((0 until n).map { i =>
        InternalRow.fromSeq(ads.zip(elemTypes).map { case (ad, et) =>
          ad.get(i, et)
        })
      }.toArray[Any])
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(children = newChildren)
  }

  /** `tupleToNameValuePairs(t)` → array of (name, value) pairs; the
    * reference requires one common value type
    * (ref `src/Functions/tupleToNameValuePairs.cpp`).
    */
  case class TupleToNameValuePairs(child: Expression)
      extends UnaryExpression with CodegenFallback {
    private lazy val st = child.dataType.asInstanceOf[StructType]
    override def dataType: DataType = {
      val ts = st.fields.map(_.dataType).distinct
      require(ts.length == 1,
        s"tupleToNameValuePairs: heterogeneous tuple (${ts.mkString(", ")})")
      ArrayType(StructType(Seq(
        StructField("_1", StringType, nullable = false),
        StructField("_2", ts.head, st.fields.exists(_.nullable)))),
        containsNull = false)
    }
    override def nullSafeEval(v: Any): Any = {
      val row = v.asInstanceOf[InternalRow]
      new GenericArrayData(st.fields.zipWithIndex.map { case (f, i) =>
        InternalRow.fromSeq(Seq(UTF8String.fromString(f.name),
          row.get(i, f.dataType))): Any
      })
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `flattenTuple(t)` → tuple with nested tuples splatted; path names
    * joined with '.' (ref `src/Functions/flattenTuple.cpp`).
    */
  case class FlattenTuple(child: Expression)
      extends UnaryExpression with CodegenFallback {
    private def flatFields(st: StructType, prefix: String): Seq[(String, StructField)] =
      st.fields.toSeq.flatMap { f =>
        val name = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        f.dataType match {
          case inner: StructType => flatFields(inner, name)
          case _ => Seq(name -> f)
        }
      }
    private lazy val fields =
      flatFields(child.dataType.asInstanceOf[StructType], "")
    override def dataType: DataType =
      StructType(fields.map { case (n, f) => StructField(n, f.dataType, f.nullable) })
    override def nullSafeEval(v: Any): Any = {
      def walk(row: InternalRow, st: StructType): Seq[Any] =
        st.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
          f.dataType match {
            case inner: StructType =>
              val sub = row.get(i, inner)
              if (sub == null) inner.fields.toSeq.map(_ => null)
              else walk(sub.asInstanceOf[InternalRow], inner)
            case dt => Seq(row.get(i, dt))
          }
        }
      InternalRow.fromSeq(walk(v.asInstanceOf[InternalRow],
        child.dataType.asInstanceOf[StructType]))
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // ------------------------------------------------------------------
  // arrayEnumerateUniqRanked / arrayEnumerateDenseRanked
  // ------------------------------------------------------------------

  /** The ranked enumerates (ref `src/Functions/array/
    * arrayEnumerateRanked.h`): enumerate occurrences of zipped elements
    * of multidimensional arrays at per-array effective depths, with the
    * counter cleared whenever an array at nesting level `clear_depth`
    * completes. Signature `f([clear_depth,] arr1 [, depth1], ...)` —
    * constant integer args parse exactly like the reference's
    * getArraysDepths. Per-row semantics (a row's whole value is one
    * enumeration scope at the default clear_depth = 1).
    */
  case class ArrayEnumerateRanked(children: Seq[Expression], dense: Boolean)
      extends Expression with CodegenFallback {

    private def arrayDepth(dt: DataType): Int = dt match {
      case a: ArrayType => 1 + arrayDepth(a.elementType)
      case _ => 0
    }
    private def isIntConst(e: Expression): Boolean = e.foldable && (e.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    private def intValue(e: Expression): Int = e.eval(null) match {
      case i: java.lang.Number => i.intValue()
      case other => throw new IllegalArgumentException(s"depth: $other")
    }

    /** (clearDepth, per-array (childIndex, effectiveDepth)). */
    private lazy val parsed: (Int, Seq[(Int, Int)]) = {
      var clear = 1
      val arrays = Seq.newBuilder[(Int, Int)] // (child idx, actual depth)
      val depths = mutable.Map[Int, Int]() // array ordinal -> explicit depth
      var arrayNum = 0
      children.zipWithIndex.foreach { case (c, i) =>
        if (arrayDepth(c.dataType) > 0) {
          arrays += ((i, arrayDepth(c.dataType)))
          arrayNum += 1
        } else if (isIntConst(c)) {
          val v = intValue(c)
          require(v > 0, s"depth ($v) cannot be less or equal 0")
          if (i == 0) clear = v
          else {
            require(arrayNum > 0 && !depths.contains(arrayNum - 1),
              s"depth ($v) for missing array")
            depths(arrayNum - 1) = v
          }
        } else throw new IllegalArgumentException(
          s"arrayEnumerate*Ranked: argument ${i + 1} is neither an array " +
            "nor a constant positive integer")
      }
      val arr = arrays.result()
      require(arr.nonEmpty, "at least one array should be passed")
      val eff = arr.zipWithIndex.map { case ((idx, actual), ord) =>
        val d = depths.getOrElse(ord, actual)
        require(d <= actual, s"depth=$d for array with depth=$actual")
        (idx, d)
      }
      val maxD = eff.map(_._2).max
      require(clear <= maxD,
        s"clear_depth ($clear) can't be larger than max_array_depth ($maxD)")
      (clear, eff)
    }

    private lazy val maxDepth: Int = parsed._2.map(_._2).max

    override def dataType: DataType =
      (1 to maxDepth).foldLeft(IntegerType: DataType)((t, _) =>
        ArrayType(t, containsNull = false))
    override def nullable: Boolean = parsed._2.exists(p => children(p._1).nullable)

    /** Convert a Catalyst array value into nested Vectors of comparable
      * leaves (UTF8String / boxed primitives / Vector for sub-arrays).
      */
    private def toComparable(v: Any, dt: DataType): Any = (v, dt) match {
      case (null, _) => null
      case (ad: ArrayData, a: ArrayType) =>
        val n = ad.numElements()
        (0 until n).map(i => toComparable(ad.get(i, a.elementType), a.elementType)).toVector
      case (b: Array[Byte], BinaryType) => b.toVector
      case (other, _) => other
    }

    override def eval(input: InternalRow): Any = {
      val (clearDepth, args) = parsed
      val vals = args.map { case (idx, eff) =>
        val raw = children(idx).eval(input)
        if (raw == null) return null
        (toComparable(raw, children(idx).dataType), eff)
      }
      val counts = mutable.HashMap[Vector[Any], Int]()
      var rank = 0
      // walk level L: nodes are (value, effDepth); args with effDepth >= L
      // descend (must agree on length), shallower args ride as fixed leaves
      def walk(nodes: Seq[(Any, Int)], level: Int): Any = {
        if (level > maxDepth) {
          val key = nodes.map(_._1).toVector
          if (dense) {
            counts.get(key) match {
              case Some(r) => r
              case None => rank += 1; counts(key) = rank; rank
            }
          } else {
            val c = counts.getOrElse(key, 0) + 1
            counts(key) = c
            c
          }
        } else {
          val lens = nodes.collect { case (v, d) if d >= level =>
            v.asInstanceOf[Vector[Any]].length }
          require(lens.distinct.length == 1,
            "Lengths and effective depths of all arrays passed to " +
              s"arrayEnumerate${if (dense) "Dense" else "Uniq"}Ranked must be equal")
          val n = lens.head
          val out = new Array[Any](n)
          var j = 0
          while (j < n) {
            val sub = nodes.map { case (v, d) =>
              if (d >= level) (v.asInstanceOf[Vector[Any]](j), d) else (v, d)
            }
            out(j) = walk(sub, level + 1)
            // an array at nesting level L+1 (element j's subtree) just
            // completed — the reference clears when clear_depth == L+1
            if (clearDepth == level + 1) { counts.clear(); rank = 0 }
            j += 1
          }
          if (level == maxDepth) new GenericArrayData(out.map(_.asInstanceOf[Any]))
          else new GenericArrayData(out)
        }
      }
      walk(vals, 1)
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(children = newChildren)
  }

  // ------------------------------------------------------------------
  // wide reinterprets / OrDefault fronts / decimal overflow
  // ------------------------------------------------------------------

  /** reinterpretAs for the wide kinds (ref `src/Functions/
    * reinterpretAs.cpp`): memcpy the source's raw LE bytes into a
    * zero-initialized wide target. Strings contribute their bytes
    * (ISO-8859-1, byte-faithful like the narrow family); numbers
    * contribute their 8-byte two's-complement image (the engine's
    * numeric carrier — the same width tradeoff the narrow family makes).
    */
  private def reinterpretWide(x: AnyRef, kind: WideInt.Kind): Array[Byte] = {
    val bytes: Array[Byte] = x match {
      case s: String => s.getBytes(StandardCharsets.ISO_8859_1)
      case b: Array[Byte] => b
      case n: java.lang.Number =>
        val v = n.longValue()
        val out = new Array[Byte](8)
        var i = 0
        while (i < 8) { out(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
        out
      case other => throw new IllegalArgumentException(s"reinterpret: $other")
    }
    val w = kind.bytes
    val take = math.min(bytes.length, w)
    // assemble unsigned little-endian, then two's-complement if the
    // source filled the full width of a signed kind
    var v = BigInteger.ZERO
    var i = take - 1
    while (i >= 0) {
      v = v.shiftLeft(8).or(BigInteger.valueOf(bytes(i) & 0xffL))
      i -= 1
    }
    if (kind.signed && take >= w && v.testBit(8 * w - 1))
      v = v.subtract(BigInteger.ONE.shiftLeft(8 * w))
    WideInt.encode(v, kind)
  }

  /** digits(unscaled) > precision — the reference's isDecimalOverflow
    * (a Spark Decimal VALUE always fits its declared type, so the
    * 1-arg form is false by construction; the 2-arg form checks against
    * a NARROWER precision). Accepts plain decimals and wide
    * Decimal256 binaries.
    */
  private def isDecimalOverflow(x: AnyRef, prec: Int): Boolean = x match {
    case null => false
    case d: java.math.BigDecimal =>
      if (prec < 0) false else d.unscaledValue.abs.toString.length > prec
    case b: Array[Byte] =>
      val dec = WideDecimal.operand(b)
      if (prec < 0) dec.unscaled.abs.toString.length > 76
      else dec.unscaled.abs.toString.length > prec
    case other =>
      isDecimalOverflow(new java.math.BigDecimal(other.toString), prec)
  }

  // ------------------------------------------------------------------
  // registration
  // ------------------------------------------------------------------

  def register(r: FunctionSurface.Registrar): Unit = {
    def call(name: String, args: Seq[Expression]): Expression =
      UnresolvedFunction(name, args, isDistinct = false)
    def constStr(e: Expression, what: String): String = {
      require(e.foldable, s"$what must be a constant string")
      String.valueOf(e.eval(null))
    }

    // ---- the row-multiplying front: SELECT arrayJoin(a) == explode
    r.expr("arrayJoin")(cs => Explode(cs.head))

    // ---- plan-time introspection
    r.expr("isConstant")(cs => TypeIntrospection(cs.head, "isConstant"))
    r.expr("isNullable")(cs => TypeIntrospection(cs.head, "isNullable"))
    r.expr("defaultValueOfArgumentType")(cs =>
      TypeIntrospection(cs.head, "defaultValue"))
    r.expr("defaultValueOfTypeName") { cs =>
      val (dt, nullable) = graft.sources.ChTypes.toSpark(
        constStr(cs.head, "defaultValueOfTypeName"))
      if (nullable) Literal(null, dt) else Literal.create(zeroOf(dt), dt)
    }
    r.expr("getSubcolumn")(cs => UnresolvedExtractValue(cs.head, cs(1)))
    // indexHint: args drive index analysis only; the result is truthy
    // for every row (the reference returns UInt8 1 — boolean here so a
    // bare `WHERE indexHint(...)` analyzes)
    r.expr("indexHint")(_ => Literal(true))
    // one random UInt32 per QUERY: the reference's per-block constant
    // collapses to a per-plan literal in a declarative engine
    r.expr("randConstant")(_ => Literal(
      java.util.concurrent.ThreadLocalRandom.current().nextLong(1L << 32)))
    r.expr("getSetting") { cs =>
      val name = constStr(cs.head, "getSetting name")
      // resolve against the ACTIVE session at analysis time —
      // cloned/derived sessions see their own conf, like the
      // reference's per-query settings
      val v = SparkSession.active.conf.getOption(name).getOrElse(
        throw new IllegalArgumentException(s"Unknown setting '$name'"))
      // settings are typed in the reference; surface ints/bools as such
      scala.util.Try(Literal(v.toLong)).getOrElse(
        if (v == "true" || v == "false") Literal(v.toBoolean) else Literal(v))
    }
    r.expr("hasColumnInTable") { cs =>
      require(cs.length == 3,
        "hasColumnInTable(db, table, column) — remote forms are not supported")
      val db = constStr(cs.head, "database")
      val table = constStr(cs(1), "table")
      val column = constStr(cs(2), "column")
      val session = SparkSession.active // analysis-time session
      val qualified =
        if (db.isEmpty || db == "default" || db == session.catalog.currentDatabase) table
        else s"$db.$table"
      val schema = session.table(qualified).schema // throws if absent, like the ref
      Literal(if (schema.fieldNames.contains(column)) 1.toShort else 0.toShort)
    }

    // ---- aggregate-state scalars
    r.expr("finalizeAggregation")(cs => FinalizeAggregation(cs.head))
    r.expr("initializeAggregation") { cs =>
      import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, UnresolvedNamedLambdaVariable}
      val name = constStr(cs.head, "initializeAggregation name")
      // Combinator SUFFIX chains parse right-to-left, like the
      // reference's combinator factory (02430:
      // `uniqStateForEachMapForEach` = ForEach(array) of Map(map) of
      // ForEach(array) of uniqState): -ForEach maps the initializer
      // over array elements, -Map over map VALUES (key kept) — each
      // level is one higher-order transform, fully codegen/native.
      def init(n: String, v: Expression, depth: Int): Expression =
        if (n.length > "ForEach".length && n.endsWith("ForEach")) {
          val x = UnresolvedNamedLambdaVariable(Seq(s"__ia_x$depth"))
          call("transform", Seq(v,
            LambdaFunction(init(n.dropRight("ForEach".length), x, depth + 1), Seq(x))))
        } else if (n.length > "Map".length && n.endsWith("Map")) {
          val k = UnresolvedNamedLambdaVariable(Seq(s"__ia_k$depth"))
          val x = UnresolvedNamedLambdaVariable(Seq(s"__ia_v$depth"))
          call("transform_values", Seq(v,
            LambdaFunction(init(n.dropRight("Map".length), x, depth + 1), Seq(k, x))))
        } else n match {
          case "sumState" | "minState" | "maxState" | "anyState" | "anyLastState" => v
          case "countState" => Literal(1L)
          case "avgState" => call("named_struct",
            Seq(Literal("sum"), v, Literal("count"), Literal(1L)))
          case "uniqState" | "uniqExactState" | "uniqHLL12State" | "uniqCombinedState" =>
            call("uniqStateScalar", Seq(v))
          case other => throw new IllegalArgumentException(
            s"initializeAggregation: unsupported state '$other' " +
              "(sum/min/max/any/count/avg/uniq states, with -Map/-ForEach chains)")
        }
      init(name, cs(1), 0)
    }
    // single-item HLL state, byte-compatible with hll_union_agg /
    // hll_sketch_estimate (same lgK/type as Spark's hll_sketch_agg)
    r.udf("uniqStateScalar", udf((x: AnyRef) => {
      val sk = new org.apache.datasketches.hll.HllSketch(
        12, org.apache.datasketches.hll.TgtHllType.HLL_8)
      x match {
        case null =>
        case s: String => sk.update(s)
        case b: Array[Byte] => sk.update(b)
        case d: java.lang.Double => sk.update(d.doubleValue)
        case f: java.lang.Float => sk.update(f.doubleValue)
        case n: java.lang.Number => sk.update(n.longValue)
        case other => sk.update(String.valueOf(other))
      }
      sk.toUpdatableByteArray
    }))

    // ---- tuple utilities
    r.expr("nested")(cs => NestedArrays(cs))
    r.expr("tupleToNameValuePairs")(cs => TupleToNameValuePairs(cs.head))
    r.expr("flattenTuple")(cs => FlattenTuple(cs.head))

    // ---- ranked enumerates
    r.expr("arrayEnumerateUniqRanked")(cs => ArrayEnumerateRanked(cs, dense = false))
    r.expr("arrayEnumerateDenseRanked")(cs => ArrayEnumerateRanked(cs, dense = true))

    // ---- file read (src/Functions/file.cpp): String contents; the
    // 2-arg form returns the default when the file is missing
    r.udf("fileReadStrict", udf((path: String) =>
      if (path == null) null
      else new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), StandardCharsets.UTF_8)))
    r.udf("fileReadOrDefault", udf((path: String, dflt: String) =>
      if (path == null) null
      else try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), StandardCharsets.UTF_8)
      catch { case _: java.io.IOException => dflt }))
    r.expr("file") { cs =>
      if (cs.length <= 1) call("fileReadStrict", cs)
      else call("fileReadOrDefault", cs.take(2))
    }

    // ---- decimal overflow probe
    r.udf("isDecimalOverflow2Internal", udf(
      (x: AnyRef, p: Int) => isDecimalOverflow(x, p)))
    r.expr("isDecimalOverflow") { cs =>
      val full = if (cs.length == 1) cs :+ Literal(-1) else cs
      call("isDecimalOverflow2Internal", full)
    }

    // ---- wide tails
    Seq(WideInt.Int128, WideInt.UInt128, WideInt.Int256, WideInt.UInt256)
      .foreach { k =>
        r.udf(s"reinterpretAs${k.name}", udf(
          ((x: AnyRef) => if (x == null) null else reinterpretWide(x, k)): UDF1[AnyRef, Any],
          BinaryType))
        r.udf(s"to${k.name}OrDefault", udf(
          ((x: AnyRef, d: AnyRef) => {
            if (x == null) { if (d == null) null else WideInt.convert(d, k) }
            else Option(WideInt.tryConvert(x, k)).getOrElse(
              if (d == null) null else WideInt.convert(d, k))
          }): UDF2[AnyRef, AnyRef, Any], BinaryType))
      }
    r.udf("toDecimal256OrDefault", udf(
      ((x: AnyRef, s: AnyRef, d: AnyRef) => {
        if (s == null) null
        else {
          val scale = WideInt.operand(s)._1.intValueExact
          if (x == null) { if (d == null) null else WideDecimal.convert(d, scale) }
          else Option(WideDecimal.tryConvert(x, scale)).getOrElse(
            if (d == null) null else WideDecimal.convert(d, scale))
        }
      }): UDF3[AnyRef, AnyRef, AnyRef, Any], BinaryType))
  }
}
