package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class ArrowPipeSpec extends AnyFunSuite {
  test("arrow codec round-trip and throughput canary") {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val outSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("n", IntegerType)))
    val recs = new java.util.ArrayList[Row]()
    (0 until 4096).foreach(i => recs.add(Row(i.toLong,
      "lorem ipsum dolor sit amet " * 10)))
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val root = org.apache.arrow.vector.VectorSchemaRoot.create(
      graft.transform.ArrowPipe.schemaFor(schema), alloc)
    // warm
    (1 to 3).foreach(_ => graft.transform.ArrowPipe.writeBatchRows(recs, schema, root))
    var t0 = System.nanoTime()
    var payload: Array[Byte] = null
    (1 to 30).foreach(_ => payload = graft.transform.ArrowPipe.writeBatchRows(recs, schema, root))
    val encUs = (System.nanoTime() - t0) / 30 / 1000
    println(s"encode: ${encUs}us per 4096-batch")
    // regression canary, not a benchmark: single-threaded encode was
    // measured ~3ms/batch (0.76µs/record); 100x that means the codec
    // fell off its primitive path (e.g. the netty-unsafe flag lost)
    assert(encUs < 300000, s"arrow encode pathological: ${encUs}us per batch")
    // decode side: build an out payload
    val outRecs = new java.util.ArrayList[Row]()
    (0 until 4096).foreach(i => outRecs.add(Row(i.toLong, 7)))
    val root2 = org.apache.arrow.vector.VectorSchemaRoot.create(
      graft.transform.ArrowPipe.schemaFor(outSchema), alloc)
    val outPayload = graft.transform.ArrowPipe.writeBatchRows(outRecs, outSchema, root2)
    (1 to 3).foreach(_ => graft.transform.ArrowPipe.readBatch(outPayload, outSchema, alloc))
    t0 = System.nanoTime()
    (1 to 30).foreach(_ => graft.transform.ArrowPipe.readBatch(outPayload, outSchema, alloc))
    val decUs = (System.nanoTime() - t0) / 30 / 1000
    println(s"decode: ${decUs}us per 4096-batch")
    assert(decUs < 300000, s"arrow decode pathological: ${decUs}us per batch")
    // round-trip correctness of the decoded values
    val back = graft.transform.ArrowPipe.readBatch(outPayload, outSchema, alloc)
    assert(back.size() === 4096)
    assert(back.get(7)(0) === 7L && back.get(7)(1) === 7)
    root.close(); root2.close(); alloc.close()
  }
}
