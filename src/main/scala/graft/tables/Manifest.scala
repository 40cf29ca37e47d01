package graft.tables

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import scala.jdk.CollectionConverters._

/** Per-column min/max of one file group, used for scan pruning (the graft
  * analogue of Iceberg's manifest-entry column bounds). `t` tags the
  * comparison domain: "i" integral, "f" floating, "s" string. Values are
  * stored in their JSON-native form; comparison happens in the tagged
  * domain, so pruning never mixes lexicographic and numeric order.
  *
  * `nulls` is the group's null count for the column (-1 on pre-upgrade
  * manifests = unknown; Iceberg's `null_value_counts` analogue). min/max
  * describe only the NON-null values, so null-aware consumers — top-N
  * truncation's null-ordering accounting, CBO column statistics — need
  * the count alongside the bounds.
  *
  * `ndv` is the group's approximate distinct-value count (-1 unknown),
  * collected by `approx_count_distinct` in the same write-side stats
  * aggregation — the piece Spark's filter/join selectivity estimation
  * cannot work without (the analogue of Iceberg's puffin theta-sketch
  * NDV stats). Cross-group rollups sum the per-group counts capped at
  * the non-null row total: an upper bound, which is what an estimator
  * wants.
  */
final case class ColBounds(t: String, min: Any, max: Any, nulls: Long = -1L,
                           ndv: Long = -1L) {
  /** Does [lo, hi] (inclusive) intersect this group's [min, max]? Unknown
    * domains or incomparable requests answer true (never prune on doubt).
    *
    * String comparison uses UTF-8 BYTE order, not Java's UTF-16 `compareTo`:
    * Spark's min/max (and `between`) order UTF8Strings by unsigned bytes,
    * and the two orders disagree for code points in [U+E000, U+FFFF] vs
    * supplementary-plane characters — a UTF-16 compare here could prune a
    * group that actually holds in-range rows.
    */
  def intersects(lo: Any, hi: Any): Boolean = {
    def num(v: Any): Option[Double] = v match {
      case n: java.lang.Number => Some(n.doubleValue())
      case _                   => None
    }
    def utf8Cmp(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    t match {
      case "i" | "f" =>
        // Spark's order (SQLOrderingUtil): -0.0 = 0.0, and NaN equals
        // itself and sorts above every other value — a group holding NaN
        // has max NaN, which plain `<=` would compare false against all
        def le(a: Double, b: Double) = a == b || java.lang.Double.compare(a, b) <= 0
        (for (l <- num(lo); h <- num(hi); mn <- num(min); mx <- num(max))
          yield le(mn, h) && le(l, mx)).getOrElse(true)
      case "s" =>
        (lo, hi, min, max) match {
          case (l: String, h: String, mn: String, mx: String) =>
            utf8Cmp(h, mn) >= 0 && utf8Cmp(l, mx) <= 0
          case _ => true
        }
      case _ => true
    }
  }
}

/** One committed file group of a table snapshot: a directory of immutable
  * data files, stamped with the commit sequence number. The graft analogue
  * of an Iceberg manifest entry with sequence-number-scoped equality
  * deletes (cf. the reference's RowDelta commits,
  * SINK/tableoperator/IcebergTableOperator.java:205-249, and its
  * equality-delta writers, SINK/tableoperator/BaseDeltaTaskWriter.java:52-72):
  *
  *  - `kind=data` — plain rows (append / overwrite / compaction output);
  *    asserts nothing about other groups.
  *  - `kind=upsert` — a merge commit's per-key winners. The group doubles
  *    as its own equality-delete file: its (identifier, seq) pairs hide
  *    rows of any group with a strictly smaller seq, so an upsert batch is
  *    ONE written file group, not a data + delete pair. Hard deletes ride
  *    along as tombstone rows (filtered out by readers, dropped by
  *    compaction).
  *
  * `path` is relative to the table directory. `stats` are optional
  * identifier-column bounds (absent on pre-stats manifests and non-stats
  * types — readers treat absence as "cannot prune").
  *
  * `partition` is the group's partition tuple in canonical string form
  * (empty for unpartitioned tables; null values are recorded as the Hive
  * default-partition sentinel). All rows of a group share one tuple — the
  * Iceberg model, where partition pruning is a planning-time manifest
  * filter, not a directory listing, and equality-delete scopes are
  * partition-local (reference partition-granularity delta files,
  * SINK/tableoperator/PartitionedDeltaWriter.java:19-78).
  */
/** A per-column Bloom filter over one file group's values — equality
  * pruning for columns with no sort order (manifest bounds cannot help
  * an unsorted column; a Bloom answers "definitely not in this group"
  * regardless of layout). `m` bits (a power of two), `k` hash probes,
  * bitset base64-coded. Probe `i` of a value sets bit
  * `pmod(xxhash64(i, value), m)` — Spark's xxHash64 with the SQL
  * function's seed, so the write-side column scan and the driver-side
  * probe agree bit-for-bit.
  *
  * `domain` tags the type the value was hashed in, like [[ColBounds.t]]:
  * "i" integral columns hash as `bigint`, "f" floating columns as
  * `double` (Spark's hash already maps -0.0 to 0.0 and every NaN to one
  * value, as SQL equality does), any other type under its own type name.
  * A widening (int→long, float→double) therefore keeps a filter's
  * domain, and a probe trusts a filter only when the tag equals the
  * column's current domain ([[BloomMeta.Probe]]); untagged filters
  * (written before the tag existed) are never used.
  *
  * Every commit that writes a data/upsert group builds one for each of
  * the table's identifier columns in the same pass that computes the
  * group's bounds, sized by [[BloomMeta.bitsFor]];
  * [[ManagedTable.buildBlooms]] adds them for other columns.
  */
final case class BloomMeta(m: Int, k: Int, bits: String, domain: String = "") {
  private lazy val words: Array[Long] = {
    val raw = java.util.Base64.getDecoder.decode(bits)
    val buf = java.nio.ByteBuffer.wrap(raw)
    Array.fill(raw.length / 8)(buf.getLong)
  }
  /** Might the group contain a value with these probe hashes (at least
    * `k`, from [[BloomMeta.hasher]])? Each hash is masked with this
    * filter's own `m`, so one hashing serves groups of any size.
    */
  def mightContain(hashes: Array[Long]): Boolean = {
    var i = 0
    var hit = true
    while (hit && i < k) {
      val p = java.lang.Math.floorMod(hashes(i), m.toLong).toInt
      hit = (words(p >>> 6) & (1L << (p & 63))) != 0L
      i += 1
    }
    hit
  }
}

object BloomMeta {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, XxHash64}
  import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
  import org.apache.spark.sql.types._

  /** Hash probes per filter. */
  val K = 4

  /** Bit width the distributed build ORs positions into before folding
    * down to [[bitsFor]]: `pmod(h, MaxBits) mod m == pmod(h, m)` for
    * every power-of-two `m ≤ MaxBits`, so the fold is exact.
    */
  val MaxBits: Int = 1 << 20

  /** Filter width for a group of `rows` rows: the smallest power of two
    * ≥ 8 bits per row, at least 64 and at most [[MaxBits]]. With k = 4
    * the false-positive rate is (1 − e^(−4n/m))^4 ≈ 0.2–2.4% for n
    * distinct values up to 2^17 rows, about 1–2 bytes of manifest per row.
    */
  def bitsFor(rows: Long): Int = {
    val want = math.min(MaxBits.toLong, math.max(64L, 8L * rows))
    java.lang.Long.highestOneBit(want - 1).toInt << 1
  }

  /** The domain tag of a column type, or None when the type gets no
    * filter (nested and interval types).
    */
  def domainOf(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("i")
    case FloatType | DoubleType                        => Some("f")
    case _: StringType | BooleanType | DateType | TimestampType |
         TimestampNTZType | BinaryType | _: DecimalType => Some(dt.catalogString)
    case _                                             => None
  }

  /** The type a domain hashes in: integral as `bigint`, floating as
    * `double`, anything else as itself.
    */
  def hashType(dt: DataType): DataType = domainOf(dt) match {
    case Some("i") => LongType
    case Some("f") => DoubleType
    case _         => dt
  }

  /** Write side: the [[K]] probe positions of column `c` (of type `dt`)
    * at the [[MaxBits]] build width, null for a null value — the input of
    * [[graft.functions.BloomBitsAgg]].
    */
  def positionsColumn(c: org.apache.spark.sql.Column,
                      dt: DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val v = c.cast(hashType(dt))
    when(c.isNotNull, array((0 until K).map(i =>
      pmod(xxhash64(lit(i), v), lit(MaxBits.toLong))): _*))
  }

  /** Driver side: a function from a value of `dt` (its external Scala
    * form) to its [[K]] 64-bit probe hashes, the same `xxhash64(i, value)`
    * [[positionsColumn]] computes, or None for a value that cannot be
    * cast into the domain without changing it (then nothing prunes).
    * The returned function is not thread-safe.
    */
  def hasher(dt: DataType): Any => Option[Array[Long]] = {
    val ht = hashType(dt)
    val toCatalyst: Any => Option[Any] = domainOf(dt) match {
      case Some("i") => {
        case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
                  _: java.lang.Byte) => Some(n.asInstanceOf[Number].longValue())
        case _ => None
      }
      case Some("f") => {
        case n @ (_: java.lang.Double | _: java.lang.Float | _: java.lang.Long |
                  _: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte) =>
          Some(n.asInstanceOf[Number].doubleValue())
        case _ => None
      }
      case _ =>
        val conv = CatalystTypeConverters.createToCatalystConverter(dt)
        v => try Option(conv(v)) catch { case scala.util.control.NonFatal(_) => None }
    }
    // seed 42 = the SQL xxhash64 function's fixed seed
    val exprs = (0 until K).map(i =>
      XxHash64(Seq(Literal(i), BoundReference(0, ht, nullable = false)), 42L)).toArray
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    v => if (v == null) None else toCatalyst(v).map { cv =>
      row.update(0, cv)
      exprs.map(_.eval(row: InternalRow).asInstanceOf[Long])
    }
  }

  /** A filter over `values` (external Scala values of `dt`) for a group
    * of `rows` rows — the driver-side build, sized like the distributed
    * one; None when the type gets no filter.
    */
  def fromValues(values: Iterator[Any], dt: DataType, rows: Long): Option[BloomMeta] =
    domainOf(dt).map { d =>
      val m = bitsFor(rows)
      val words = new Array[Long](m / 64)
      val h = hasher(dt)
      values.foreach(v => h(v).foreach(_.foreach { x =>
        val p = java.lang.Math.floorMod(x, m.toLong).toInt
        words(p >>> 6) |= 1L << (p & 63)
      }))
      BloomMeta(m, K, encode(words), d)
    }

  /** Fold a [[graft.functions.BloomBitsAgg]] result (positions at the
    * [[MaxBits]] width) down to `m` bits.
    */
  def fold(built: Array[Byte], m: Int, domain: String): BloomMeta = {
    require(Integer.bitCount(m) == 1 && m >= 64 && m <= MaxBits, s"bad width $m")
    val words = new Array[Long](m / 64)
    val bm = graft.functions.BloomBitsAgg.deserialize(built)
    bm.forEach { (p: Int) =>
      val q = p & (m - 1)
      words(q >>> 6) |= 1L << (q & 63)
    }
    BloomMeta(m, K, encode(words), domain)
  }

  private def encode(words: Array[Long]): String = {
    val buf = java.nio.ByteBuffer.allocate(words.length * 8)
    words.foreach(buf.putLong)
    java.util.Base64.getEncoder.encodeToString(buf.array())
  }

  /** Probe side of one column's filters: hashes each probe value once
    * (memoized) and tests any group's filter by masking with that
    * filter's own `m`. A filter whose domain differs from the column's
    * current one, or that has no domain tag, passes every value.
    */
  final class Probe(dt: DataType) {
    private val domain = domainOf(dt)
    private lazy val hash = hasher(dt)
    private val memo = scala.collection.mutable.HashMap.empty[Any, Option[Array[Long]]]

    /** May the group whose filter for this column is `b` hold `v`? */
    def mightContain(b: Option[BloomMeta], v: Any): Boolean = b match {
      case Some(f) if domain.contains(f.domain) && f.k == K =>
        memo.getOrElseUpdate(v, hash(v)).forall(f.mightContain)
      case _ => true
    }
  }
}

/** One physical file of a committed group — name relative to the group
  * dir + exact byte length, recorded AT COMMIT TIME (the writer just
  * produced the files, so the one listing happens where the data already
  * is). Scan planning then builds its splits from the manifest alone:
  * zero filesystem listing RPCs per plan — the difference between a
  * metadata read and O(live groups) object-store LIST calls at 100 TB,
  * re-paid on every runtime-filter re-plan (Iceberg's manifests carry
  * `file_size_in_bytes` for exactly this reason). Absent on pre-upgrade
  * manifests — readers fall back to listing those groups.
  */
final case class GroupFile(name: String, bytes: Long)

final case class ManifestEntry(path: String, kind: String, seq: Long,
                               stats: Map[String, ColBounds] = Map.empty,
                               partition: Map[String, String] = Map.empty,
                               rows: Long = -1L,
                               blooms: Map[String, BloomMeta] = Map.empty,
                               files: Seq[GroupFile] = Seq.empty)

object Manifest {
  private val mapper = new ObjectMapper()

  val Data = "data"
  val Upsert = "upsert"

  /** Positional-delete sidecar: `(file, pos)` pairs naming rows hidden by
    * every equality-delete scope at or below the entry's `seq`
    * (`appliedUpTo`). Readers anti-join the sidecar instead of re-deriving
    * those scopes — the graft analogue of Iceberg's deletion vectors /
    * rewritten position deletes (reference default on format v3,
    * SINK/tableoperator/IcebergTableWriterFactory.java:98-99).
    */
  val PosDel = "posdel"

  def toJson(entries: Seq[ManifestEntry]): String = toJson(entries, None)

  def toJson(entries: Seq[ManifestEntry], commitTimeMs: Option[Long]): String = {
    val root = mapper.createObjectNode()
    commitTimeMs.foreach(root.put("commitTimeMs", _))
    val arr = root.putArray("entries")
    entries.foreach { e =>
      val n = arr.addObject()
      n.put("path", e.path); n.put("kind", e.kind); n.put("seq", e.seq)
      if (e.rows >= 0L) n.put("rows", e.rows)
      if (e.partition.nonEmpty) {
        val p = n.putObject("partition")
        e.partition.foreach { case (k, v) => p.put(k, v) }
      }
      if (e.files.nonEmpty) {
        val fl = n.putArray("files")
        e.files.foreach { f =>
          val o = fl.addObject()
          o.put("n", f.name); o.put("b", f.bytes)
        }
      }
      if (e.blooms.nonEmpty) {
        val bl = n.putObject("blooms")
        e.blooms.foreach { case (c, b) =>
          val o = bl.putObject(c)
          o.put("m", b.m); o.put("k", b.k); o.put("bits", b.bits)
          if (b.domain.nonEmpty) o.put("d", b.domain)
        }
      }
      if (e.stats.nonEmpty) {
        val st = n.putObject("stats")
        e.stats.foreach { case (c, b) =>
          val o = st.putObject(c)
          o.put("t", b.t)
          if (b.nulls >= 0L) o.put("nulls", b.nulls)
          if (b.ndv >= 0L) o.put("ndv", b.ndv)
          def put(field: String, v: Any): Unit = v match {
            case x: java.lang.Long    => o.put(field, x.longValue())
            case x: java.lang.Integer => o.put(field, x.longValue())
            case x: java.lang.Short   => o.put(field, x.longValue())
            case x: java.lang.Byte    => o.put(field, x.longValue())
            case x: java.lang.Double  => o.put(field, x.doubleValue())
            case x: java.lang.Float   => o.put(field, x.doubleValue())
            case x: String            => o.put(field, x)
            case other                => o.put(field, String.valueOf(other))
          }
          put("min", b.min); put("max", b.max)
        }
      }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  def fromJson(json: String): Seq[ManifestEntry] =
    mapper.readTree(json).get("entries").elements().asScala.map { n =>
      val stats = Option(n.get("stats")).map { st =>
        st.fields().asScala.map { e =>
          val o = e.getValue
          val t = o.get("t").asText
          def v(f: String): Any = t match {
            case "i" => java.lang.Long.valueOf(o.get(f).asLong)
            case "f" => java.lang.Double.valueOf(o.get(f).asDouble)
            case _   => o.get(f).asText
          }
          e.getKey -> ColBounds(t, v("min"), v("max"),
            Option(o.get("nulls")).map(_.asLong).getOrElse(-1L),
            Option(o.get("ndv")).map(_.asLong).getOrElse(-1L))
        }.toMap
      }.getOrElse(Map.empty[String, ColBounds])
      val partition = Option(n.get("partition")).map { p =>
        p.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      }.getOrElse(Map.empty[String, String])
      val blooms = Option(n.get("blooms")).map { bl =>
        bl.fields().asScala.map { e =>
          val o = e.getValue
          e.getKey -> BloomMeta(o.get("m").asInt, o.get("k").asInt,
            o.get("bits").asText, Option(o.get("d")).map(_.asText).getOrElse(""))
        }.toMap
      }.getOrElse(Map.empty[String, BloomMeta])
      val files = Option(n.get("files")).map { fl =>
        fl.elements().asScala.map(o =>
          GroupFile(o.get("n").asText, o.get("b").asLong)).toSeq
      }.getOrElse(Seq.empty)
      ManifestEntry(n.get("path").asText, n.get("kind").asText, n.get("seq").asLong,
        stats, partition,
        Option(n.get("rows")).map(_.asLong).getOrElse(-1L),
        blooms, files)
    }.toSeq

  /** Manifests are immutable once written: temp + rename, never rewritten. */
  def write(fs: FileSystem, path: Path, entries: Seq[ManifestEntry]): Unit =
    write(fs, path, entries, None)

  def write(fs: FileSystem, path: Path, entries: Seq[ManifestEntry],
            commitTimeMs: Option[Long]): Unit = {
    fs.mkdirs(path.getParent)
    val tmp = new Path(path.getParent, s".${path.getName}.tmp-${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(toJson(entries, commitTimeMs).getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(s"failed to write manifest $path")
  }

  /** Commit wall-clock of a manifest: the recorded header, or the file's
    * modification time for manifests written before the header existed.
    */
  def commitTimeMs(fs: FileSystem, path: Path): Option[Long] =
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      Option(mapper.readTree(json).get("commitTimeMs")).map(_.asLong)
        .orElse(Some(fs.getFileStatus(path).getModificationTime))
    }

  def read(fs: FileSystem, path: Path): Option[Seq[ManifestEntry]] =
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try Some(fromJson(new String(in.readAllBytes(), "UTF-8"))) finally in.close()
    }
}
