package graft.functions

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.{Encoder, Encoders}

import graft.kernel.{KplPacker, KplProtobuf}

/** Row entering the packer: opaque body + optional partition key ("" = derive
  * from body hash, mirroring aggregator.go:124-130). */
final case class KplIn(body: Array[Byte], key: String)

/** One Kinesis PutRecords entry out of the packer. */
final case class KplEntry(data: Array[Byte], partition_key: String)

/** A user record recovered by deaggregation. */
final case class KplUserRecord(data: Array[Byte], partition_key: String)

object KplFunctions {

  /** Pack an already-ordered array of records — the deterministic, test-/
    * oracle-friendly form (callers fix the order with `sort_array` or an
    * ordered `collect_list`). Packing is order-dependent by construction
    * (aggregator.go:148-170), so determinism must come from the caller. */
  def packOrdered(rows: Seq[KplIn]): Seq[KplEntry] = {
    val p = new KplPacker
    rows.foreach(r => p.put(r.body, Option(r.key).getOrElse("")))
    p.drain().map(e => KplEntry(e.data, e.partitionKey))
  }

  /** Inverse of packing: explode a Kinesis record into its user records with
    * their partition keys resolved from the dictionary table. Non-aggregated
    * (oversize-bypass) payloads come back as a single record with a null key
    * (the raw entry carries its key out-of-band). */
  def deaggregate(data: Array[Byte]): Seq[KplUserRecord] =
    if (data != null && KplProtobuf.isAggregated(data)) {
      val agg = KplProtobuf.decodeFramed(data) // isAggregated already verified MD5
      agg.records.map(r => KplUserRecord(r.data, agg.partitionKeys(r.partitionKeyIndex.toInt)))
    } else if (data == null) Seq.empty
    else Seq(KplUserRecord(data, null))

  /** Streaming/grouped form: `kpl_aggregate(body, key)` over any grouping.
    * Buffers the group's rows and packs at `finish` — within-group arrival
    * order is whatever Spark feeds the aggregate, so pair it with
    * `sortWithinPartitions` (or use [[packOrdered]]) when byte-exact output
    * matters. Groups are independent ⇒ embarrassingly parallel at scale; a
    * group is one sink batch (≤ a few MB), so buffering it is bounded. */
  object KplAggregateAgg extends Aggregator[KplIn, List[KplIn], Seq[KplEntry]] {
    override def zero: List[KplIn] = Nil
    override def reduce(b: List[KplIn], a: KplIn): List[KplIn] = a :: b
    override def merge(b1: List[KplIn], b2: List[KplIn]): List[KplIn] = b2 ::: b1
    override def finish(b: List[KplIn]): Seq[KplEntry] = packOrdered(b.reverse)
    override def bufferEncoder: Encoder[List[KplIn]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[KplEntry]] = ExpressionEncoder()
  }
}
