package graft.kernel

import scala.collection.mutable

/** One Kinesis `PutRecords` request entry: framed (or raw oversize) payload
  * plus the partition key the entry is dispatched on, and optionally an
  * explicit hash key overriding the key's MD5 for shard targeting
  * (proto/aggregation.proto:8,18 — the reason the envelope carries an EHK
  * table at all). */
final case class KinesisEntry(
    data: Array[Byte], partitionKey: String, explicitHashKey: Option[String] = None)

/** Greedy first-fit-in-arrival-order KPL record packer — the reference's
  * core "aggregation" operator (pkg/aggregator/aggregator.go:119-230),
  * re-expressed as a pure sequential state machine.
  *
  * Semantics pinned by the reference tests (aggregator_test.go):
  *  - records larger than [[KplPacker.TargetSize]] bypass packing as
  *    standalone entries;
  *  - an in-progress aggregate is closed when the next record (plus its key
  *    charge) would push `curSize` strictly over `TargetSize`;
  *  - partition keys are dictionary-encoded per aggregate: a key's bytes are
  *    charged against the aggregate only the first time it appears;
  *  - a finalized entry's Kinesis partition key is the FIRST user record's
  *    key (aggregator.go:58);
  *  - `put` returns the slot index the record's output entry will occupy in
  *    the `drain()` result, the reference's per-entry routing handle
  *    (kinesis_writer.go:69-73); unlike the Go original's oversize path
  *    (aggregator.go:142, off by one, untested there), the returned slot is
  *    always the entry's actual index.
  *
  * In the Spark engine this runs strictly per-partition (a fold over a
  * partition iterator or an Aggregator buffer) — no cross-partition state, so
  * scaling out is embarrassingly parallel. Not thread-safe by design: Spark
  * gives each task its own instance, unlike the mutex-guarded Go original.
  */
final class KplPacker {

  private val records = mutable.ArrayBuffer.empty[KplProtobuf.UserRecord]
  private val partIds = mutable.LinkedHashMap.empty[String, Int]
  private val ehkIds = mutable.LinkedHashMap.empty[String, Int]
  private var curSize = 0
  private var nbyte = 0L
  private var nrec = 0L
  private val completed = mutable.ArrayBuffer.empty[KinesisEntry]

  /** Total byte size accepted (data + charged partition keys). */
  def size: Long = nbyte

  /** Number of user records accepted since the last drain. */
  def count: Long = nrec

  /** Number of Kinesis entries `drain()` would currently return. */
  def recs: Int = completed.length + (if (records.nonEmpty) 1 else 0)

  /** Accept one record; returns its output slot (see class doc). An invalid
    * caller key (empty or >255 chars) falls back to the body-hash key
    * (aggregator.go:124-130). A non-empty `ehk` is dictionary-encoded into
    * the aggregate's `explicit_hash_key_table` — the shard-targeted routing
    * the reference's envelope supports but its pipeline never populated
    * (proto/aggregation.proto:8,18, partitioned.go stub). */
  def put(body: Array[Byte], key: String = "", ehk: String = ""): Int = {
    val partKey = if (key.isEmpty || key.length > 255) Fnv64a.hex(body) else key

    if (body.length > KplPacker.TargetSize) {
      completed += KinesisEntry(body, partKey, Option(ehk).filter(_.nonEmpty))
      nbyte += body.length + partKey.length
      nrec += 1
      // NOTE: deliberate deviation — the Go original returns
      // len(completedRecs) here (one past the entry's index,
      // aggregator.go:142), which its own tests never pin and which would
      // misroute a per-entry ack/requeue. Return the entry's actual slot.
      return completed.length - 1
    }

    if (records.nonEmpty &&
        curSize + body.length + partKey.length + ehk.length > KplPacker.TargetSize) closeCurrent()

    var recSize = body.length
    val keyIdx = partIds.getOrElseUpdate(partKey, {
      recSize += partKey.length // key bytes charged once per distinct key
      partIds.size
    })
    val ehkIdx =
      if (ehk.isEmpty) None
      else Some(ehkIds.getOrElseUpdate(ehk, {
        recSize += ehk.length // like partition keys: charged once per distinct
        ehkIds.size
      }).toLong)
    records += KplProtobuf.UserRecord(keyIdx.toLong, body, ehkIdx)
    curSize += recSize
    nbyte += recSize
    nrec += 1
    completed.length
  }

  private def closeCurrent(): Unit = {
    val keys = partIds.keys.toVector // LinkedHashMap preserves insertion = index order
    val ehks = ehkIds.keys.toVector
    val agg = KplProtobuf.Aggregated(keys, records.toVector, ehks)
    // entry-level routing mirrors the first-record partition-key rule
    // (aggregator.go:58): the aggregate ships on record 0's keys
    val entryEhk = records.head.explicitHashKeyIndex.map(i => ehks(i.toInt))
    completed += KinesisEntry(KplProtobuf.frame(agg), keys.head, entryEhk)
    records.clear()
    partIds.clear()
    ehkIds.clear()
    curSize = 0
  }

  /** Finalize the in-progress aggregate and return all entries, resetting
    * all counters (aggregator.go:209-230). Empty drain is fine. */
  def drain(): Vector[KinesisEntry] = {
    if (records.nonEmpty) closeCurrent()
    val out = completed.toVector
    completed.clear()
    nbyte = 0
    nrec = 0
    out
  }
}

object KplPacker {
  /** 25 kB — one Kinesis PUT payload unit (aggregator.go:76,93). */
  val TargetSize = 25000
}
