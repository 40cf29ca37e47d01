package graft.sources

import org.apache.hadoop.fs.Path

import graft.tables.ManagedTable

/** THE attach-point contract for streaming reads of a graft table — one
  * implementation of option validation, `latest`/timestamp resolution,
  * the durable pin and per-poll admission ([[Admission]]), rendered by
  * BOTH streaming seams: the V1 changelog source ([[GraftSource]]) and
  * the V2 append-only table stream ([[graft.catalog.GraftMicroBatchStream]]). A fix to the
  * contract (validation wording, pin-race handling, timestamp boundary)
  * lands on both seams by construction.
  */
object AttachPoint {

  private def asLong(s: String): Option[Long] =
    try Some(s.toLong) catch { case _: NumberFormatException => None }

  /** Option-shape validation — the empty string is all-digits vacuously
    * and an overlong digit run overflows toLong, so both must fail HERE
    * with the precise option error, never later inside an offset poll.
    */
  def validate(prefix: String, startingVersion: Option[String],
               startingTimestamp: Option[String]): Unit = {
    require(startingVersion.isEmpty || startingTimestamp.isEmpty,
      s"$prefix: set startingVersion OR startingTimestamp, not both")
    startingVersion.foreach(sv => require(
      sv.equalsIgnoreCase("latest") || asLong(sv).exists(_ >= 1L),
      s"$prefix: startingVersion must be 'latest' or a version >= 1, got '$sv'"))
    startingTimestamp.foreach(ts => require(
      (ts.nonEmpty && ts.forall(_.isDigit) && asLong(ts).isDefined) ||
        (try { java.sql.Timestamp.valueOf(ts); true }
         catch { case _: IllegalArgumentException => false }),
      s"$prefix: startingTimestamp must be epoch millis or " +
        s"'yyyy-MM-dd HH:mm:ss', got '$ts'"))
  }

  def tsMillis(ts: String): Long =
    if (ts.forall(_.isDigit)) ts.toLong else java.sql.Timestamp.valueOf(ts).getTime

  /** The version the stream starts strictly AFTER. `default` = the
    * no-options attach (0 for the V1 net-snapshot seed, -1 for the V2
    * snapshot-batch sentinel); `preHistory` = a timestamp predating the
    * earliest retained snapshot (same seed semantics). `startingVersion=n`
    * starts at n INCLUSIVE; `latest` and timestamps resolve once through
    * `pin` (durable — restarts must never re-resolve past commits that
    * landed while stopped).
    */
  def resolve(startingVersion: Option[String], startingTimestamp: Option[String],
              default: Long, preHistory: Long,
              current: () => Long, versions: () => Seq[(Long, Long)],
              pin: (() => Long) => Long): Long =
    (startingVersion, startingTimestamp) match {
      case (None, None)                          => default
      case (Some(n), _) if n.forall(_.isDigit)   => n.toLong - 1L
      case (Some(_), _)                          => pin(current)
      case (None, Some(ts))                      =>
        val ms = tsMillis(ts)
        pin(() => versions().filter(_._2 < ms).map(_._1)
          .maxOption.getOrElse(preHistory))
    }

  /** Durable attach pin: compute once, persist under the stream's
    * metadata/checkpoint dir, read back on every restart. Temp + rename
    * so a crash mid-write never leaves a torn pin.
    */
  def pin(metadataPath: String, conf: org.apache.hadoop.conf.Configuration)
         (compute: () => Long): Long = {
    val p = new Path(metadataPath, "graft-attach-version")
    val mfs = p.getFileSystem(conf)
    if (!mfs.exists(p)) {
      val tmp = new Path(metadataPath,
        s".graft-attach-version.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = mfs.create(tmp, false)
      try out.write(compute().toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!mfs.rename(tmp, p)) mfs.delete(tmp, false) // lost a (re)start race: read the winner's pin
    }
    val in = mfs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    finally in.close()
  }

  /** Admission of one offset poll: `maxVersionsPerTrigger` caps the
    * versions after `base`, then `maxRowsPerTrigger` admits versions in
    * order while the manifest's per-commit row totals fit the budget —
    * one metadata read, zero jobs; a version is never split, so a single
    * over-budget commit lands alone, and metadata-only commits cost 0 and
    * always admit. One instance per stream (offset polls are
    * single-threaded per source): it caches the per-version row totals
    * by the table's current version, because every poll loads a FRESH
    * handle (it must see new commits) whose entries cache is cold — a
    * capped drain of an n-version backlog parses the manifest once, not
    * n times.
    */
  final class Admission(maxVersions: Option[Long], maxRows: Option[Long]) {
    private var rowsKey: Long = Long.MinValue
    private var rowsBase: Long = Long.MinValue
    private var rows: Map[Long, Long] = null

    /** The last version to admit after `base` (`base` itself = nothing);
      * `t` is the poll's handle at current version `cur0`, `cur` the
      * highest admissible version (`cur0` under an AvailableNow pin).
      */
    def end(t: ManagedTable, cur0: Long, cur: Long, base: Long): Long = {
      val verEnd = maxVersions.fold(cur)(k => math.min(cur, base + k))
      maxRows match {
        case Some(budget) if verEnd > base =>
          if (rows == null || rowsKey != cur0 || rowsBase > base) {
            rowsKey = cur0; rowsBase = base
            rows = t.rowsPerVersion(base, cur0)
          }
          var adm = base
          var cum = 0L
          var v = base + 1L
          var over = false
          while (v <= verEnd && !over) {
            val r = rows.getOrElse(v, 0L)
            if (adm == base || cum + r <= budget) { adm = v; cum += r; v += 1L }
            else over = true
          }
          adm
        case _ => verEnd
      }
    }
  }
}
