package graft.archive

import java.io.StringWriter

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter,
  PrimitiveConverter}
import org.apache.parquet.schema.{GroupType, MessageType, PrimitiveType, Type}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType}

/** [[DirectServe]] for TYPED-UNION stores — the reference's ONLY
  * serving path (every CA sample family, enum states, array elements,
  * aggregated minMaxDouble, markers) answered from driver-side
  * manifest-pruned row-group reads with zero Spark jobs. With the
  * EPICS ingest bridge landing migrated archives as typed stores, this
  * is the path a migrated site's dashboards actually hit.
  *
  * Envelope: raw level (the planner's choice for count-less requests
  * and most count-driven ones), ManifestBackend, the typed-union
  * schema. Decimated-level serves and anything else fall back to the
  * engine. Row selection, the channel scan and the vacuum retry are
  * [[DirectServe]]'s; this object owns only what is typed: the decode
  * of a typed row ([[TRow]]) and its wire encoding. Byte-identity with
  * [[ArchiveServer.serveJsonTyped]] (the `to_json` wire) is gated by
  * DirectServeTypedSpec over the full 21-tag synthetic frame and the
  * EPICS migration fixture — the JSON here is written with the SAME
  * Jackson core Spark's JacksonGenerator uses, field for field in
  * `JsonV1.serializeTyped`'s struct order, with `to_json`'s null-field
  * omission.
  */
object DirectServeTyped {

  import DirectServe.{FallbackException, Hit, LimitReach, hasColumn}

  /** One decoded typed sample — only the columns the wire format
    * serializes. Reference types: ChannelAccessSampleValueAccess.java
    * :86-211 (the engine's TypedSamples column contract).
    */
  private final case class TRow(
      ts: Long, vtype: String,
      value: java.lang.Double, strValue: String,
      enumValue: java.lang.Integer, labels: IndexedSeq[String],
      arrNum: IndexedSeq[java.lang.Double], arrStr: IndexedSeq[String],
      aggMean: java.lang.Double, aggMin: java.lang.Double,
      aggMax: java.lang.Double,
      severity: java.lang.Integer, status: java.lang.Integer,
      metaUnits: String, metaPrecision: java.lang.Integer,
      dLow: java.lang.Double, dHigh: java.lang.Double,
      wLow: java.lang.Double, wHigh: java.lang.Double,
      aLow: java.lang.Double, aHigh: java.lang.Double,
      // arrival id — only the duplicate-timestamp survivor tiebreak
      // (first arrival = min sample_id, the engine rule); 0 when the
      // file predates the column
      sid: Long = 0L) {
    /** Heap estimate: the object with its boxed fields, its strings
      * (two bytes a char, the worst case) and its list elements. */
    def bytes: Long = {
      def str(x: String): Long = if (x == null) 0L else 40L + 2L * x.length
      def strs(x: IndexedSeq[String]): Long =
        if (x == null) 0L else 32L + x.iterator.map(8L + str(_)).sum
      320L + str(vtype) + str(strValue) + str(metaUnits) + strs(labels) +
        strs(arrStr) + (if (arrNum == null) 0L else 32L + 24L * arrNum.length)
    }
  }

  /** One channel's typed rows in one file: the selection's row view. */
  private final class TypedRows(val rows: Array[TRow])
      extends DirectServe.Rows {
    def length: Int = rows.length
    def ts(i: Int): Long = rows(i).ts
    def sid(i: Int): Long = rows(i).sid
    def bytes: Long = rows.iterator.map(_.bytes).sum
  }

  /** The full config-governed typed serve
    * ([[ConfiguredArchive.serveJsonTyped]]'s contract), or None when
    * out of envelope. Same typed error signals as the engine path.
    */
  def tryServe(spark: SparkSession, configPath: String, storePath: String,
               name: String, startNs: Long, endNs: Long,
               count: Option[Long], backend: StoreBackend,
               refuseDisabled: Boolean): Option[Iterator[String]] =
    tryServe(spark,
      ConfiguredArchive.snapshot(spark, configPath, storePath, backend),
      name, startNs, endNs, count, refuseDisabled)

  /** [[tryServe]] at one request's snapshot: both bounds widened, the
    * boundary samples within [[LimitReach]] — exactly
    * ArchiveServer.serveJsonTyped's assembly. */
  private[archive] def tryServe(spark: SparkSession,
               snap0: ConfiguredArchive.Snapshot,
               name: String, startNs: Long, endNs: Long,
               count: Option[Long],
               refuseDisabled: Boolean): Option[Iterator[String]] =
    DirectServe.direct(spark, snap0) { snap =>
      val manifest = snap.manifest.filter(m => hasColumn(m.schema, "vtype",
          StringType) && hasColumn(m.schema, "ts", LongType) &&
          hasColumn(m.schema, "channel", StringType))
        .getOrElse(throw new FallbackException)
      val cfg = ConfiguredArchive.resolveServable(snap.config, name,
        refuseDisabled)
      val ctx = new DirectServe.Ctx(spark.sparkContext.hadoopConfiguration,
        snap.storePath, cfg.channelDataId)
      val states = DirectServe.levelStatesOf(spark, snap.storePath,
          manifest.version, manifest, ctx.channel)
        .filter(s => (cfg.levels.keySet + 0L).contains(s.periodSec))
      if (states.isEmpty) Iterator.empty
      else if (ResolutionPlanner.selectLevel(states.map(_.periodSec),
          startNs, endNs, count) != 0L)
        throw new FallbackException // decimated typed serve → engine
      else new DirectServe.Selection[TypedRows](ctx.channel,
          manifest.files.filter(_.levelSec == 0L), LimitReach,
          ctx.rows(_, "typed")(decodeTypedFile(ctx, _)))
        .select(startNs, endNs, ArchiveReader.AtOrWidened,
          ArchiveReader.AtOrWidened, states.find(_.periodSec == 0L))
        .map(element)
    }

  // ---- typed parquet decode -----------------------------------------

  // ChannelConverter / LongConverter / DoubleConverter are SHARED with
  // the scalar path (one definition of the dictionary-aware channel
  // match); only the string and int32 primitives are typed-only.
  private type ChConv = DirectServe.ChannelConverter
  private type LongConv = DirectServe.LongConverter
  private type DblConv = DirectServe.DoubleConverter

  private final class StrConv extends PrimitiveConverter {
    var v: String = _
    override def addBinary(b: Binary): Unit = v = b.toStringUsingUTF8
  }
  private final class IntConv extends PrimitiveConverter {
    var set = false; var v = 0
    override def addInt(x: Int): Unit = { set = true; v = x }
  }

  /** Spark's 3-level list layout: group (LIST) { repeated group list {
    * optional element } } — elements may be null.
    */
  private final class DblListConv extends GroupConverter {
    var buf: mutable.ArrayBuffer[java.lang.Double] = _
    private val elem = new DblConv
    private val inner: GroupConverter = new GroupConverter {
      def getConverter(i: Int): Converter = elem
      def start(): Unit = elem.set = false
      def end(): Unit =
        buf += (if (elem.set) java.lang.Double.valueOf(elem.v) else null)
    }
    def getConverter(i: Int): Converter = inner
    def start(): Unit = buf = mutable.ArrayBuffer.empty
    def end(): Unit = ()
  }
  private final class StrListConv extends GroupConverter {
    var buf: mutable.ArrayBuffer[String] = _
    private val elem = new StrConv
    private val inner: GroupConverter = new GroupConverter {
      def getConverter(i: Int): Converter = elem
      def start(): Unit = elem.v = null
      def end(): Unit = buf += elem.v
    }
    def getConverter(i: Int): Converter = inner
    def start(): Unit = buf = mutable.ArrayBuffer.empty
    def end(): Unit = ()
  }

  /** Decode every typed row of the channel in one typed-store file
    * ([[DirectServe.scanChannel]]). Missing optional columns decode as
    * null.
    */
  private def decodeTypedFile(ctx: DirectServe.Ctx,
                              file: String): TypedRows =
    DirectServe.scanChannel(ctx, file) { (fileSchema, chBin) =>
      val want = Seq("channel", "ts", "vtype", "value", "str_value",
        "enum_value", "labels", "arr_num", "arr_str",
        "agg_mean", "agg_min", "agg_max", "severity", "status",
        "meta_units", "meta_precision", "meta_display_low",
        "meta_display_high", "meta_warn_low", "meta_warn_high",
        "meta_alarm_low", "meta_alarm_high", "sample_id")
      val present = want.filter(fileSchema.containsField)
      if (!present.contains("channel") || !present.contains("ts") ||
          !present.contains("vtype"))
        throw new FallbackException
      val fields: Seq[Type] = present.map(n =>
        fileSchema.getFields.get(fileSchema.getFieldIndex(n)))
      val idx = present.zipWithIndex.toMap
      val convs: Array[Converter] = fields.map { f =>
        f.getName match {
          case "channel" => new ChConv(chBin)
          case _ if f.isPrimitive =>
            f.asPrimitiveType().getPrimitiveTypeName match {
              case PrimitiveType.PrimitiveTypeName.INT64 => new LongConv
              case PrimitiveType.PrimitiveTypeName.INT32 => new IntConv
              case PrimitiveType.PrimitiveTypeName.DOUBLE => new DblConv
              case PrimitiveType.PrimitiveTypeName.BINARY => new StrConv
              case _ => throw new FallbackException
            }
          case _ =>
            // list column: double elements for arr_num, strings else
            val elemIsDouble = {
              def leaf(t: Type): PrimitiveType.PrimitiveTypeName = t match {
                case p if p.isPrimitive => p.asPrimitiveType()
                  .getPrimitiveTypeName
                case g: GroupType => leaf(g.getFields.get(0))
              }
              leaf(f) == PrimitiveType.PrimitiveTypeName.DOUBLE
            }
            if (elemIsDouble) new DblListConv else new StrListConv
        }
      }.toArray
      def prim[A <: Converter](n: String): Option[A] =
        idx.get(n).map(i => convs(i).asInstanceOf[A])
      val ch = prim[ChConv]("channel").get
      val tsC = prim[LongConv]("ts").get
      val vt = prim[StrConv]("vtype").get
      val valueC = prim[DblConv]("value")
      val strC = prim[StrConv]("str_value")
      val enumC = prim[IntConv]("enum_value")
      val labelsC = prim[StrListConv]("labels")
      val arrNumC = prim[DblListConv]("arr_num")
      val arrStrC = prim[StrListConv]("arr_str")
      val aggMeanC = prim[DblConv]("agg_mean")
      val aggMinC = prim[DblConv]("agg_min")
      val aggMaxC = prim[DblConv]("agg_max")
      val sevC = prim[IntConv]("severity")
      val stC = prim[IntConv]("status")
      val unitsC = prim[StrConv]("meta_units")
      val precC = prim[IntConv]("meta_precision")
      val dLoC = prim[DblConv]("meta_display_low")
      val dHiC = prim[DblConv]("meta_display_high")
      val wLoC = prim[DblConv]("meta_warn_low")
      val wHiC = prim[DblConv]("meta_warn_high")
      val aLoC = prim[DblConv]("meta_alarm_low")
      val aHiC = prim[DblConv]("meta_alarm_high")
      val sidC = prim[LongConv]("sample_id")
      // set-flag reset per row: primitives track via set/v; strings &
      // lists via null/None. A repetition the row lacks never calls
      // its converter, so reset in start().
      val listCols = convs.collect { case c: DblListConv => Left(c)
        case c: StrListConv => Right(c) }
      val sink = new DirectServe.RowSink[TypedRows] {
        private val out = mutable.ArrayBuffer.empty[TRow]
        private val root: GroupConverter = new GroupConverter {
          def getConverter(i: Int): Converter = convs(i)
          def start(): Unit = {
            ch.isMatch = false
            tsC.set = false
            vt.v = null
            valueC.foreach(_.set = false)
            strC.foreach(_.v = null)
            enumC.foreach(_.set = false)
            aggMeanC.foreach(_.set = false)
            aggMinC.foreach(_.set = false)
            aggMaxC.foreach(_.set = false)
            sevC.foreach(_.set = false)
            stC.foreach(_.set = false)
            unitsC.foreach(_.v = null)
            precC.foreach(_.set = false)
            Seq(dLoC, dHiC, wLoC, wHiC, aLoC, aHiC)
              .foreach(_.foreach(_.set = false))
            sidC.foreach(_.set = false)
            listCols.foreach {
              case Left(c) => c.buf = null
              case Right(c) => c.buf = null
            }
          }
          def end(): Unit =
            if (ch.isMatch && tsC.set && vt.v != null) {
              def d(c: Option[DblConv]): java.lang.Double =
                c.filter(_.set).map(x => java.lang.Double.valueOf(x.v)).orNull
              def i(c: Option[IntConv]): java.lang.Integer =
                c.filter(_.set).map(x => java.lang.Integer.valueOf(x.v)).orNull
              out += TRow(tsC.v, vt.v, d(valueC),
                strC.map(_.v).orNull, i(enumC),
                labelsC.flatMap(c => Option(c.buf)).map(_.toIndexedSeq).orNull,
                arrNumC.flatMap(c => Option(c.buf)).map(_.toIndexedSeq).orNull,
                arrStrC.flatMap(c => Option(c.buf)).map(_.toIndexedSeq).orNull,
                d(aggMeanC), d(aggMinC), d(aggMaxC),
                i(sevC), i(stC), unitsC.map(_.v).orNull, i(precC),
                d(dLoC), d(dHiC), d(wLoC), d(wHiC), d(aLoC), d(aHiC),
                sidC.filter(_.set).map(_.v).getOrElse(0L))
            }
        }
        def getRootConverter: GroupConverter = root
        def rows(): TypedRows = new TypedRows(out.toArray)
        def reorder(rows: TypedRows, order: Array[Int]): TypedRows =
          new TypedRows(order.map(rows.rows))
      }
      (new MessageType("proj", fields: _*), sink)
    }

  // ---- wire serialization -------------------------------------------

  private val jsonFactory = new JsonFactory()

  private val LongTags = Set("scalar_char", "scalar_short", "scalar_long",
    "array_char", "array_short", "array_long")
  private val DoubleTags = Set("scalar_double", "scalar_float",
    "array_double", "array_float")

  private def severityName(level: Int): String = level match {
    case 0 => "OK"; case 1 => "MINOR"; case 2 => "MAJOR"; case _ => "INVALID"
  }
  private def statusName(code: java.lang.Integer): String =
    if (code == null) "STATE"
    else code.intValue match {
      case 0 => "NO_ALARM"; case 1 => "READ"; case 2 => "WRITE"
      case 3 => "HIHI"; case 4 => "HIGH"; case 5 => "LOLO"; case 6 => "LOW"
      case _ => "STATE"
    }

  /** ANSI double→long cast: truncation; non-finite refuses like the
    * engine's cast error. */
  private def toLong(d: Double): Long = {
    if (d.isNaN || d.isInfinite)
      throw new ArithmeticException(
        s"[CAST_INVALID_INPUT] $d cannot be cast to BIGINT")
    d.toLong
  }

  /** One encoding's numeric `metaData` blocks, serialized once per
    * distinct metadata: a channel's rows almost always share one.
    * Keyed by a `java.util.List` so the doubles compare by bits (`-0.0`
    * and `0.0` print differently).
    */
  private final class MetaJson {
    private val memo = new java.util.HashMap[java.util.List[AnyRef], String]()

    def apply(r: TRow): String = memo.computeIfAbsent(
      java.util.Arrays.asList[AnyRef](r.metaPrecision, r.metaUnits,
        r.dLow, r.dHigh, r.wLow, r.wHigh, r.aLow, r.aHigh),
      _ => render(r))

    private def render(r: TRow): String = {
      val sw = new StringWriter(160)
      val g = jsonFactory.createGenerator(sw)
      g.writeStartObject()
      g.writeStringField("type", "numeric")
      g.writeNumberField("precision",
        if (r.metaPrecision == null) 0 else r.metaPrecision.intValue)
      g.writeStringField("units", r.metaUnits)
      def f(n: String, v: java.lang.Double): Unit =
        if (v != null) g.writeNumberField(n, v.doubleValue)
      f("displayLow", r.dLow); f("displayHigh", r.dHigh)
      f("warnLow", r.wLow); f("warnHigh", r.wHigh)
      f("alarmLow", r.aLow); f("alarmHigh", r.aHigh)
      g.writeEndObject()
      g.close()
      sw.toString
    }
  }

  /** Every row's JSON v1 element, in row order, written through one
    * generator (no separator between root values). A row the wire
    * format refuses (an unknown tag, a non-finite value of a long tag)
    * gets null; [[element]] re-raises its error only if a request
    * selects it, as the per-row serve always did.
    */
  private def encode(rows: TypedRows): Array[String] = {
    val meta = new MetaJson
    val sw = new StringWriter(256)
    def generator(): JsonGenerator = {
      val g = jsonFactory.createGenerator(sw)
      g.setRootValueSeparator(null)
      g
    }
    var g = generator()
    val out = new Array[String](rows.length)
    var i = 0
    while (i < rows.length) {
      try {
        write(g, rows.rows(i), meta)
        g.flush()
        out(i) = sw.toString
      } catch {
        // the generator is mid-object: drop it with its partial output
        case NonFatal(_) => g = generator()
      }
      sw.getBuffer.setLength(0)
      i += 1
    }
    out
  }

  /** A selected row's element, from its file's encoding. */
  private def element(h: Hit[TypedRows]): String = {
    val s = h.e.json(encode)(h.i)
    if (s != null) s else jsonOf(h.e.rows.rows(h.i))
  }

  /** One row on its own generator — throws what [[encode]] caught. */
  private def jsonOf(r: TRow): String = {
    DecodedRowCache.uncachedElements.incrementAndGet()
    val sw = new StringWriter(160)
    val g = jsonFactory.createGenerator(sw)
    write(g, r, new MetaJson)
    g.close()
    sw.toString
  }

  /** One JSON v1 typed sample — [[JsonV1.serializeTyped]]'s `to_json`
    * output byte for byte: same field order, same null-field omission,
    * same Jackson number text (this IS the same Jackson core).
    */
  private def write(g: JsonGenerator, r: TRow, meta: MetaJson): Unit = {
    val marker = r.vtype == "disabled" || r.vtype == "disconnected"
    g.writeStartObject()
    g.writeNumberField("time", r.ts)
    g.writeObjectFieldStart("severity")
    if (marker) {
      g.writeStringField("level", "INVALID")
      g.writeBooleanField("hasValue", false)
    } else {
      g.writeStringField("level",
        severityName(if (r.severity == null) 3 else r.severity.intValue))
      g.writeBooleanField("hasValue", true)
    }
    g.writeEndObject()
    val markerText =
      if (r.vtype == "disabled") "Archive_Disabled" else "Disconnected"
    g.writeStringField("status",
      if (marker) markerText else statusName(r.status))
    g.writeStringField("quality", "Original")

    def numericMeta(): Unit = if (r.metaUnits != null) {
      g.writeFieldName("metaData")
      g.writeRawValue(meta(r))
    }
    def longArray(): Unit =
      if (r.value != null) {
        g.writeArrayFieldStart("value")
        g.writeNumber(toLong(r.value.doubleValue))
        g.writeEndArray()
      } else if (r.arrNum != null) {
        g.writeArrayFieldStart("value")
        r.arrNum.foreach(e =>
          if (e == null) g.writeNull() else g.writeNumber(toLong(e)))
        g.writeEndArray()
      } // both null → field omitted, like to_json
    def doubleArray(): Unit =
      if (r.value != null) {
        g.writeArrayFieldStart("value")
        g.writeNumber(r.value.doubleValue)
        g.writeEndArray()
      } else if (r.arrNum != null) {
        g.writeArrayFieldStart("value")
        r.arrNum.foreach(e =>
          if (e == null) g.writeNull() else g.writeNumber(e.doubleValue))
        g.writeEndArray()
      }

    if (marker) {
      g.writeStringField("type", "string")
      g.writeArrayFieldStart("value")
      g.writeString(markerText)
      g.writeEndArray()
    } else if (LongTags.contains(r.vtype)) {
      numericMeta()
      g.writeStringField("type", "long")
      longArray()
    } else if (DoubleTags.contains(r.vtype)) {
      numericMeta()
      g.writeStringField("type", "double")
      doubleArray()
    } else if (r.vtype == "scalar_enum" || r.vtype == "array_enum") {
      if (r.labels != null) {
        g.writeObjectFieldStart("metaData")
        g.writeStringField("type", "enum")
        g.writeArrayFieldStart("states")
        r.labels.foreach(s => if (s == null) g.writeNull()
          else g.writeString(s))
        g.writeEndArray()
        g.writeEndObject()
      }
      g.writeStringField("type", "enum")
      if (r.enumValue != null) {
        g.writeArrayFieldStart("value")
        g.writeNumber(r.enumValue.longValue)
        g.writeEndArray()
      } else if (r.arrNum != null) {
        g.writeArrayFieldStart("value")
        r.arrNum.foreach(e =>
          if (e == null) g.writeNull() else g.writeNumber(toLong(e)))
        g.writeEndArray()
      }
    } else if (r.vtype == "scalar_string" || r.vtype == "array_string") {
      g.writeStringField("type", "string")
      if (r.strValue != null) {
        g.writeArrayFieldStart("value")
        g.writeString(r.strValue)
        g.writeEndArray()
      } else if (r.arrStr != null) {
        g.writeArrayFieldStart("value")
        r.arrStr.foreach(s => if (s == null) g.writeNull()
          else g.writeString(s))
        g.writeEndArray()
      }
    } else if (r.vtype.startsWith("aggregated_")) {
      numericMeta()
      g.writeStringField("type", "minMaxDouble")
      g.writeArrayFieldStart("value")
      if (r.aggMean == null) g.writeNull()
      else g.writeNumber(r.aggMean.doubleValue)
      g.writeEndArray()
      if (r.aggMin != null) g.writeNumberField("minimum",
        r.aggMin.doubleValue)
      if (r.aggMax != null) g.writeNumberField("maximum",
        r.aggMax.doubleValue)
    } else {
      // unknown tag: the engine's otherwise-branch serializes a
      // marker — an unknown tag here is a store this path does not
      // understand; refuse to guess
      throw new FallbackException
    }
    g.writeEndObject()
  }
}
