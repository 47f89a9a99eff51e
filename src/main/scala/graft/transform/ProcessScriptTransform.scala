package graft.transform

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** Out-of-process script execution — parity with the reference's Native
  * mode (ref: Py4jPythonExecutor.java:1-297), which runs user *Python* in
  * an external process while the engine streams records across.
  *
  * Re-expressed for Spark's execution model: each `mapPartitions` task
  * spawns one worker process (python3 running [[workerSource]], stdlib
  * only) and speaks ONE framed protocol over its stdin/stdout: every
  * message, both directions, is a kind byte + 4-byte length + payload
  * frame ([[ArrowPipe.writeFrame]]). The task sends a JSON init; the
  * worker always answers `{"t":"proto","arrow":bool}`. Records then
  * travel as batches — [[BatchSize]]-record JSON arrays, or
  * [[ArrowBatchSize]]-record Arrow IPC batches when the partition
  * cleared the Arrow gate and the worker accepted — and the worker's
  * channel messages return as buffered `{"t":"bb"}` frames (arrow-mode
  * emits as Arrow frames), flushed per input frame and every
  * [[WorkerFlushEvery]] messages inside one so a high-fan-out record
  * can't buffer unboundedly. Successes come back as a run-length
  * `{"t":"dn","n":k}` marker and a failure as its own `"f"`, so the
  * task walks one pending cursor over the in-flight Row batches to name
  * a failing record. Batching replaces the per-record line tax that
  * dominated this path at corpus scale (measured 3-4x on the 2M-doc
  * rehearsal); the script API stays strictly per-record. A dedicated
  * writer thread streams frames in while the task thread reads frames
  * out (the same two-thread shape Spark's own Python runner uses):
  * neither side ever waits on a round trip, so throughput is
  * pipeline-limited, and the bounded in-flight queue plus pipe
  * backpressure bound memory — no deadlock however many rows a record
  * emits. The worker count scales with partitions like any Spark stage;
  * there is no driver round-trip.
  *
  * Script contract matches the reference plugin, so a user's existing
  * script body runs unchanged:
  * {{{
  * def transform(record, emitter, context):
  *     emitter.emit(dict)                       # 0..N times
  *     emitter.emitError({'errorCode': int, 'errorMsg': str,
  *                        'invalidRecord': dict})
  *     emitter.emitAlert({str: str})
  *     context.getArguments() / .getLogger() / .getMetrics().count(name)
  *     context.lookup(dataset, key) / .getLookup(dataset)   # broadcast dims
  * }}}
  * Channels, error policy, metrics, and the tagged single-pass result are
  * the same [[TransformResult]] the in-process [[ScriptTransform]] path
  * produces; logger and `print()` output go to the executor's stderr
  * log and per-level log counts ride [[Metrics]] like the Scala path's
  * ScriptLogger.
  *
  * Value codec of JSON batches: null/boolean/integral/floating/
  * string/array/map/struct (structs travel as JSON objects), plus the
  * reference codec's BYTES and logical datetime types
  * (ref: PythonObjectsEncoder.java:48,126,173): BINARY rides as base64,
  * TIMESTAMP/DATE as ISO-8601 — schema-driven on BOTH sides of the pipe
  * ([[WireCodec]] here, `_dec`/`_enc` in the worker), so the script sees
  * real `bytes`/`datetime.datetime`/`datetime.date` objects and may emit
  * them back, exactly like the reference. Union branches remain
  * plain-typed on this path (the in-process path handles unions of any
  * branch type natively).
  */
object ProcessScriptTransform {

  /** Records per JSON input frame. Sized so a frame of typical web documents
    * stays ~100s of KB (one pipe write, one json parse) while the
    * in-flight queue (1024 records = 4 frames) still backpressures a
    * slow worker. */
  private[transform] val BatchSize = 256

  /** Worker-side response-buffer cap: buffered emits plus channel
    * messages flush as frames whenever they reach this many, bounding
    * worker memory even when one record emits millions of rows. */
  private[graft] val WorkerFlushEvery = 4096

  /** Records per ARROW frame. Arrow's per-frame overhead (IPC schema +
    * stream setup + one pyarrow to_pylist/from_pylist call pair) is
    * ~fixed per frame, so arrow frames run 16x larger than JSON frames
    * — the pandas-UDF batch shape — putting that overhead at a fraction
    * of a µs/record. Measured at 2M docs: 256-row arrow frames LOST to
    * the JSON protocol (4.5 vs 2.5 s — framing overhead dominated);
    * 4096-row frames is where the no-json-encode win shows. */
  private[transform] val ArrowBatchSize = 4096

  /** Arrow negotiation is gated per PARTITION on input volume AND on
    * schema shape, from paired ScaleCheck measurements on this class of
    * host (r16, docgen corpus, 64 workers / 32 cores):
    *
    *  - CODEC-HEAVY schemas (binary/timestamp/date on either side —
    *    [[WireCodec]] descriptor non-null): JSON pays base64 + ISO-8601
    *    per cell in both directions, and arrow wins clearly at scale
    *    (xf_pybytes-shape, 8M rows: arrow 13.2 s vs JSON 20.5 s). The
    *    worker's `import pyarrow` is still a ~0.25 s (multi-second under
    *    contention) fixed cost per worker, so tiny partitions must stay
    *    on JSON: the task peeks the partition, buffering rows until
    *    either threshold clears (→ offer arrow; buffered rows replay
    *    first) or the input ends (→ JSON, no pyarrow import anywhere).
    *    `graft.pyscript.arrowMinRows` (default 65536; ≤0 = always
    *    offer) and `graft.pyscript.arrowMinBytes` (default 32m).
    *
    *  - PLAIN schemas (str/num only — JSON-native both ways): measured
    *    marginal rates are EQUAL within noise (8→16M rows: arrow
    *    ~2.7M rec/s vs JSON ~2.2-2.8M rec/s aggregate) while arrow
    *    carries +2-5 s of fixed cost (imports + conversion setup), so
    *    JSON dominates at every tested scale up to 250k rows/partition
    *    — the earlier "3x at scale" reading did not reproduce under
    *    paired A/B. Plain schemas never offer arrow (no peek, no
    *    import). */
  private[transform] val ArrowMinRowsDefault = 65536
  private[transform] val ArrowMinBytesDefault = 32L * 1024 * 1024

  /** Cheap per-row payload estimate for the arrowMinBytes trigger —
    * arrow-eligible schemas are flat scalars, so variable width lives
    * only in string/binary cells (primitives count a flat word). */
  private def approxRowBytes(r: Row, n: Int): Long = {
    var b = 0L
    var i = 0
    while (i < n) {
      r.get(i) match {
        case null => ()
        case s: String => b += s.length
        case a: Array[Byte] => b += a.length
        case _ => b += 8
      }
      i += 1
    }
    b
  }

  /** Configure-time script validation (ref: PythonEvaluator.java:224-243
    * compiles the script in configurePipeline so a typo fails the deploy,
    * not a 1000-executor job): compile-check the source and verify the
    * `transform` binding from the AST — the user module is never
    * executed, so top-level side effects (network calls, input(),
    * infinite loops) can neither run on the driver host nor hang
    * configuration. Accepted bindings: a top-level plain `def transform`
    * (3-arg signature checked statically) or any top-level assignment /
    * import that binds the name `transform` (partials, aliases —
    * arity is unknowable statically, so a mismatch surfaces through the
    * worker's normal per-record error channel instead). A `transform`
    * bound only inside an `if` block or other nested scope is rejected:
    * whether it exists would depend on executing the module. The whole check is bounded by a hard timeout as a
    * second line of defense. Runs one driver-side python3 (~50 ms);
    * throws IllegalArgumentException with the interpreter's message. */
  def validate(script: String, pythonExec: String = "python3",
               env: Map[String, String] = Map.empty): Unit = {
    val checker =
      """import sys, ast
        |src = sys.stdin.read()
        |try:
        |    tree = ast.parse(src, "<transform>", "exec")
        |    compile(tree, "<transform>", "exec")
        |except SyntaxError as e:
        |    sys.stderr.write("syntax error: %s (line %s)" % (e.msg, e.lineno)); sys.exit(1)
        |def _target_names(t):
        |    # unpacking targets bind too: `transform, helper = make()`,
        |    # `[a, transform] = pair`, `first, *transform = seq` — walk
        |    # Tuple/List elements and through Starred wrappers
        |    if isinstance(t, ast.Name):
        |        yield t.id
        |    elif isinstance(t, (ast.Tuple, ast.List)):
        |        for e in t.elts:
        |            yield from _target_names(e)
        |    elif isinstance(t, ast.Starred):
        |        yield from _target_names(t.value)
        |def _binds_transform(n):
        |    # transform = functools.partial(...), transform: Callable = f,
        |    # from mod import transform, import transform — all run fine
        |    # under the worker's exec + _ns["transform"], so accept them
        |    # (arity can't be checked statically; a mismatch fails in the
        |    # worker with the normal per-record error surface)
        |    if isinstance(n, ast.Assign):
        |        return any("transform" in _target_names(t) for t in n.targets)
        |    if isinstance(n, ast.AnnAssign):
        |        return isinstance(n.target, ast.Name) and n.target.id == "transform" \
        |            and n.value is not None
        |    if isinstance(n, ast.ImportFrom):
        |        return any((a.asname or a.name) == "transform" for a in n.names)
        |    if isinstance(n, ast.Import):
        |        return any(a.asname == "transform" for a in n.names)
        |    return False
        |# exec semantics are last-binding-wins: only the LAST top-level
        |# binding of `transform` (def OR assignment/import) is effective,
        |# so a def followed by `transform = partial(...)` must not be
        |# arity-checked against the shadowed def
        |bindings = [n for n in tree.body
        |            if (isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        |                and n.name == "transform") or _binds_transform(n)]
        |if not bindings:
        |    sys.stderr.write("script must bind transform(record, emitter, context) at module top level (def or assignment)"); sys.exit(1)
        |last = bindings[-1]
        |if not isinstance(last, (ast.FunctionDef, ast.AsyncFunctionDef)):
        |    sys.exit(0)  # non-def binding: arity unknowable statically
        |if isinstance(last, ast.AsyncFunctionDef):
        |    sys.stderr.write("transform must be a plain def, not async def (it is called synchronously)"); sys.exit(1)
        |a = last.args
        |n = len(a.posonlyargs) + len(a.args)
        |required = n - len(a.defaults)
        |# called with exactly 3 positional args: valid iff it can ACCEPT 3
        |# (vararg or n >= 3) and REQUIRES at most 3 (trailing defaults ok)
        |accepts3 = a.vararg is not None or n >= 3
        |if required > 3 or not accepts3:
        |    sys.stderr.write("transform must be callable with 3 positional arguments (record, emitter, context): it requires %d and accepts %s" % (required, "*args" if a.vararg else str(n))); sys.exit(1)
        |required_kw = [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is None]
        |if required_kw:
        |    sys.stderr.write("transform must not require keyword-only parameters (it is called with 3 positional args): %s" % ", ".join(required_kw)); sys.exit(1)
        |""".stripMargin
    val pb = new ProcessBuilder(pythonExec, "-c", checker)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val proc = pb.start()
    val in = proc.getOutputStream
    in.write(script.getBytes(StandardCharsets.UTF_8)); in.close()
    // drain stderr CONCURRENTLY with the wait: a checker that writes more
    // than the pipe buffer before exiting would otherwise block and
    // surface as a bogus timeout instead of its real message
    val errBytes = new java.io.ByteArrayOutputStream()
    val drain = new Thread(() => {
      try proc.getErrorStream.transferTo(errBytes)
      catch { case _: java.io.IOException => } // destroyed on timeout
    }, "graft-validate-stderr")
    drain.setDaemon(true)
    drain.start()
    // the checker never runs user code, so this bound only guards a
    // broken interpreter; destroy on expiry so configuration can't hang
    if (!proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)) {
      proc.destroyForcibly()
      throw new IllegalArgumentException(
        "transform script validation timed out after 30s")
    }
    drain.join(5000)
    val err = errBytes.toString(StandardCharsets.UTF_8)
    if (proc.exitValue() != 0)
      throw new IllegalArgumentException(s"invalid transform script: $err")
  }

  /** Worker stderr lines kept for a worker failure's message: the
    * traceback of a script that dies outside `transform` (at import,
    * on a bad init) is the failure's cause. */
  private[transform] val StderrTailLines = 20

  /** @param parallelism floor on the worker stage's task count
    *   ([[graft.core.Util.partitionFloor]]; 0 = off): a narrow parquet
    *   scan often yields 1-2 partitions = 1-2 workers, and the shuffle
    *   of input rows is cheap next to interpreting them.
    * @param env extra environment variables for every spawned worker
    *   interpreter (and the configure-time validator) — the reference's
    *   PYTHONPATH passthrough for user libraries (ref:
    *   Py4jPythonExecutor.java:68,149 sets PYTHONPATH so the evaluator
    *   can import modules shipped beside the pipeline;
    *   PythonEvaluator.java:117-121 surfaces it as plugin config). Keys
    *   REPLACE inherited values of the same name; everything else of the
    *   executor's environment is inherited unchanged. */
  def python(df: DataFrame, outSchema: StructType, script: String,
             arguments: Map[String, String] = Map.empty,
             metrics: Metrics = Metrics.none,
             lookups: Map[String, Map[String, Any]] = Map.empty,
             onError: ScriptTransform.ErrorPolicy = ScriptTransform.FailFast,
             pythonExec: String = "python3",
             parallelism: Int = 0,
             env: Map[String, String] = Map.empty): TransformResult = {
    validate(script, pythonExec, env) // fail at configure time, not per task
    // torrent-broadcast once per executor (like the Scala path's
    // ScriptContext), not serialized into every task closure; no
    // broadcast block at all in the common no-lookups case (a broadcast
    // per python() call lives until the SparkContext dies)
    val bcLookups =
      if (lookups.isEmpty) null
      else df.sparkSession.sparkContext.broadcast(lookups)
    val in = graft.core.Util.partitionFloor(df, parallelism)
    val inSchema = in.schema
    val channels = new TaggedChannels(inSchema, outSchema)
    val worker = workerSource
    // wire-type descriptors: null (and zero per-record cost) unless the
    // schema actually carries binary/datetime somewhere
    val inDesc = WireCodec.descriptor(inSchema)
    val outDesc = WireCodec.descriptor(outSchema)
    // Arrow eligibility is decided here (flat scalar schemas only) and
    // OFFERED in init; whether it is USED depends on (a) the partition
    // clearing the size gate below and (b) the worker's negotiated
    // answer (pyarrow importable) per partition
    val sessConf = df.sparkSession.conf
    // schema-shape split (see ArrowMinRowsDefault): arrow's measured win
    // is the wire codec it removes — plain str/num schemas speak JSON
    val codecHeavy = inDesc != null || outDesc != null
    val arrowMinRows = sessConf.getOption("graft.pyscript.arrowMinRows")
      .map(_.toInt).getOrElse(ArrowMinRowsDefault)
    val arrowMinBytes = sessConf.getOption("graft.pyscript.arrowMinBytes")
      .map(_.toLong).getOrElse(ArrowMinBytesDefault)
    val offerArrowStatic = codecHeavy &&
      ArrowPipe.supported(inSchema) && ArrowPipe.supported(outSchema)

    val tagged = in.mapPartitions { rows0 =>
      if (!rows0.hasNext) Iterator.empty
      else {
        // partition-size gate (see ArrowMinRowsDefault): peek-buffer the
        // head of the partition; a partition that ends before either
        // threshold speaks the JSON protocol and never pays the worker's
        // pyarrow import. Buffered rows replay ahead of the live
        // iterator, so record order and content are unchanged.
        var offerArrow = offerArrowStatic
        var rows: Iterator[Row] = rows0
        if (offerArrowStatic && arrowMinRows > 0) {
          val nf = inSchema.length
          val buf = new java.util.ArrayList[Row](
            math.min(arrowMinRows, ArrowBatchSize))
          var bytes = 0L
          while (rows0.hasNext && buf.size < arrowMinRows &&
              bytes < arrowMinBytes) {
            val r = rows0.next()
            buf.add(r)
            bytes += approxRowBytes(r, nf)
          }
          offerArrow = buf.size >= arrowMinRows || bytes >= arrowMinBytes
          rows = new Iterator[Row] {
            private var i = 0
            override def hasNext: Boolean = i < buf.size || rows0.hasNext
            override def next(): Row =
              if (i < buf.size) { val r = buf.get(i); i += 1; r }
              else rows0.next()
          }
        }
        val mapper = new ObjectMapper()
        val pb = new ProcessBuilder(pythonExec, "-c", worker)
        env.foreach { case (k, v) => pb.environment().put(k, v) }
        val proc = pb.start()
        // stderr (script logger output, print(), tracebacks) → executor
        // log; the last StderrTailLines lines also ride a worker failure's
        // message
        val errTail = new java.util.ArrayDeque[String](StderrTailLines)
        val drain = new Thread(() => {
          val r = new BufferedReader(new InputStreamReader(
            proc.getErrorStream, StandardCharsets.UTF_8))
          var l = r.readLine()
          while (l != null) {
            System.err.println(s"[graft.pyscript] $l")
            errTail.synchronized {
              if (errTail.size == StderrTailLines) errTail.poll()
              errTail.add(l)
            }
            l = r.readLine()
          }
        }, "graft-pyscript-stderr")
        drain.setDaemon(true)
        drain.start()
        val rawOut = proc.getOutputStream
        val rawIn = proc.getInputStream
        val writerError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
        def fail(why: String): Nothing = {
          // a dead worker's traceback names the cause: let the drain
          // read stderr to EOF, then append its tail
          drain.join(2000)
          val tail = errTail.synchronized(errTail.toArray.mkString("\n"))
          val stderr = if (tail.isEmpty) "" else s"\nworker stderr:\n$tail"
          val cause = writerError.get()
          if (cause != null) throw new IllegalStateException(
            s"python worker input stream failed: $cause$stderr", cause)
          throw new IllegalStateException(why + stderr)
        }
        def died(): Nothing = {
          // stdout EOF can beat the exit status by a moment
          val exit = if (proc.waitFor(2, java.util.concurrent.TimeUnit.SECONDS))
            proc.exitValue().toString else "alive"
          fail(s"python worker died (exit=$exit)")
        }
        def readJson(payload: Array[Byte]): java.util.Map[String, Object] =
          mapper.readValue(payload, classOf[java.util.Map[String, Object]])

        // init and negotiation run on the TASK thread: the worker always
        // answers {"t":"proto","arrow":bool} before any batch is framed
        val init = new java.util.LinkedHashMap[String, Object]()
        init.put("script", script)
        init.put("arguments", JsonCodec.toJava(arguments))
        init.put("lookups", JsonCodec.toJava(
          if (bcLookups == null) Map.empty[String, Map[String, Any]]
          else bcLookups.value))
        if (inDesc != null) init.put("in_types", inDesc)
        if (outDesc != null) init.put("out_types", outDesc)
        if (offerArrow) {
          init.put("arrow", java.lang.Integer.valueOf(1))
          val oa = new java.util.ArrayList[Object]()
          outSchema.fields.foreach { f =>
            val e = new java.util.ArrayList[Object]()
            e.add(f.name); e.add(ArrowPipe.kind(f.dataType).get)
            oa.add(e)
          }
          init.put("out_arrow", oa)
        }
        ArrowPipe.writeFrame(rawOut, 'J'.toByte, mapper.writeValueAsBytes(init))
        rawOut.flush()
        val answer = ArrowPipe.readFrame(rawIn)
        if (answer == null) died()
        val proto = readJson(answer._2)
        if (proto.get("t") != "proto") fail(s"unexpected worker answer $proto")
        val arrowMode = java.lang.Boolean.TRUE.equals(proto.get("arrow"))
        val batchRows = if (arrowMode) ArrowBatchSize else BatchSize

        // input Row batches the writer has sent whose records the reader
        // has not yet seen finish ("dn"/"f"). The 4-batch bound (1024
        // records in JSON mode) backpressures the writer on a slow
        // worker instead of buffering the partition; a Row becomes a map
        // only when its record fails.
        val pending =
          new java.util.concurrent.LinkedBlockingQueue[java.util.ArrayList[Row]](4)
        val tc = TaskContext.get()
        val writer = new Thread(() => {
          val allocator =
            if (arrowMode) new org.apache.arrow.memory.RootAllocator() else null
          val root = if (arrowMode) org.apache.arrow.vector.VectorSchemaRoot.create(
            ArrowPipe.schemaFor(inSchema), allocator) else null
          // the one input-side fork: how a batch is encoded
          def encode(batch: java.util.ArrayList[Row]): Array[Byte] =
            if (arrowMode) ArrowPipe.writeBatchRows(batch, inSchema, root)
            else {
              val recs = new java.util.ArrayList[Object](batch.size)
              batch.forEach { r =>
                val m = SchemaCodec.rowToMap(r, inSchema)
                recs.add(JsonCodec.toJava(
                  if (inDesc == null) m else WireCodec.mapToWire(m, inSchema)))
              }
              mapper.writeValueAsBytes(recs)
            }
          try {
            if (tc != null) org.apache.spark.graft.TaskContextBridge.set(tc)
            var batch = new java.util.ArrayList[Row](batchRows)
            def send(): Unit = {
              // the reader takes OWNERSHIP of the list (its pending
              // cursor walks it), so a fresh list replaces it
              pending.put(batch) // BEFORE the write: the reader must find it
              ArrowPipe.writeFrame(rawOut,
                (if (arrowMode) 'A' else 'J').toByte, encode(batch))
              rawOut.flush()
              batch = new java.util.ArrayList[Row](batchRows)
            }
            while (rows.hasNext) {
              batch.add(rows.next())
              if (batch.size >= batchRows) send()
            }
            if (!batch.isEmpty) send()
            rawOut.close() // end of input: the worker sees EOF
          } catch {
            case t: Throwable =>
              writerError.set(t)
              proc.destroyForcibly()
          } finally {
            if (root != null)
              try { root.close(); allocator.close() }
              catch { case _: Throwable => () }
          }
        }, "graft-pyscript-writer")
        writer.setDaemon(true)
        Option(tc).foreach(_.addTaskCompletionListener[Unit] { _ =>
          proc.destroyForcibly(); writer.interrupt()
        })
        writer.start()

        // responses arrive in record order (the worker is sequential);
        // "dn"/"f" markers advance the pending cursor so "f" can name the
        // record that failed
        new Iterator[Row] {
          private var nextRow: Row = null
          private var finished = false
          // decoded output rows of the current 'A' frame
          private val rowQ = new java.util.ArrayDeque[Array[Any]]()
          // reader-side allocator for incoming IPC payloads (arrow mode)
          private lazy val readAllocator = {
            val a = new org.apache.arrow.memory.RootAllocator()
            Option(tc).foreach(_.addTaskCompletionListener[Unit] { _ =>
              try a.close() catch { case _: Throwable => () }
            })
            a
          }
          // pending cursor over the writer's Row batches: advance n
          // positions, return the LAST row touched (null only on a
          // protocol violation — markers never outrun frames)
          private var curBatch: java.util.ArrayList[Row] = null
          private var curIdx = 0
          private def pendingAdvance(n0: Int): Row = {
            var last: Row = null
            var n = n0
            while (n > 0) {
              if (curBatch == null || curIdx >= curBatch.size()) {
                curBatch = pending.poll(); curIdx = 0
                if (curBatch == null) return null
              }
              last = curBatch.get(curIdx); curIdx += 1; n -= 1
            }
            last
          }
          // messages of the current response frame not yet dispatched
          private val frameQ = new java.util.ArrayDeque[java.util.Map[String, Object]]()
          /** Refill rowQ ('A' frame) or frameQ ('J' frame: a "bb" array's
            * messages, or a top-level message as a singleton). */
          private def readTop(): Unit = {
            val fr = ArrowPipe.readFrame(rawIn)
            if (fr == null) died()
            if (fr._1 == 'A'.toByte) {
              val rows = ArrowPipe.readBatch(fr._2, outSchema, readAllocator)
              var i = 0
              while (i < rows.size()) { rowQ.add(rows.get(i)); i += 1 }
            } else {
              val top = readJson(fr._2)
              if (top.get("t") == "bb")
                top.get("d").asInstanceOf[java.util.List[Object]].forEach(
                  m => frameQ.add(m.asInstanceOf[java.util.Map[String, Object]]))
              else frameQ.add(top) // "m" metrics
            }
          }
          private def advance(): Unit = {
            while (nextRow == null && !finished) {
              if (!rowQ.isEmpty) {
                nextRow = channels.out(
                  new org.apache.spark.sql.catalyst.expressions.GenericRow(
                    rowQ.poll()))
              } else if (frameQ.isEmpty) {
                readTop()
              } else {
                val msg = frameQ.poll()
                msg.get("t").asInstanceOf[String] match {
                case "e" =>
                  val raw = JsonCodec.toScala(msg.get("d")).asInstanceOf[Map[String, Any]]
                  nextRow = channels.out(SchemaCodec.mapToRow(
                    if (outDesc == null) raw
                    else WireCodec.mapFromWire(raw, outSchema),
                    outSchema))
                case "r" =>
                  val e = JsonCodec.toScala(msg.get("d")).asInstanceOf[Map[String, Any]]
                  val badRaw = e.getOrElse("invalidRecord", Map.empty[String, Any])
                    .asInstanceOf[Map[String, Any]]
                  nextRow = channels.error(
                    e.getOrElse("errorCode", 0).asInstanceOf[Number].intValue(),
                    String.valueOf(e.getOrElse("errorMsg", "")),
                    if (inDesc == null) badRaw
                    else WireCodec.mapFromWire(badRaw, inSchema))
                case "a" =>
                  nextRow = channels.alert(
                    JsonCodec.toScala(msg.get("d")).asInstanceOf[Map[String, Any]]
                      .map { case (k, v) => k -> String.valueOf(v) })
                case "dn" =>
                  // run-length done marker: n consecutive successes
                  pendingAdvance(msg.get("n").asInstanceOf[Number].intValue())
                case "f" =>
                  // the failing record's own marker (map conversion only
                  // here — the hot path never pays it)
                  val r = pendingAdvance(1)
                  val err = String.valueOf(msg.get("m"))
                  onError match {
                    case ScriptTransform.FailFast =>
                      throw new RuntimeException(s"python transform failed: $err")
                    case ScriptTransform.RouteToErrors(code) =>
                      nextRow = channels.error(code, err,
                        if (r == null) Map.empty else SchemaCodec.rowToMap(r, inSchema))
                  }
                case "m" =>
                  // end-of-stream: fold worker-side metric counts into the
                  // stage accumulators, reap the process
                  val counts = JsonCodec.toScala(msg.get("c"))
                    .asInstanceOf[Map[String, Any]]
                  counts.foreach { case (k, v) =>
                    metrics.count(k, v.asInstanceOf[Number].longValue()) }
                  proc.waitFor()
                  finished = true
                case other => fail(s"unknown worker message '$other'")
                }
              }
            }
          }
          override def hasNext: Boolean = { advance(); nextRow != null }
          override def next(): Row = {
            advance()
            if (nextRow == null) throw new NoSuchElementException
            val r = nextRow; nextRow = null; r
          }
        }
      }
    }(Encoders.row(channels.schema))

    channels.result(tagged.toDF())
  }

  /** The worker harness, Python stdlib only. Mirrors the reference's
    * script surface (ref: PythonEvaluator.java:261-287): `transform`
    * entry point, emitter with three channels, context with
    * getArguments/getLogger/getMetrics (attribute access works too). */
  private[transform] val workerSource: String =
    """import sys, os, json, base64, datetime
      |
      |# One wire both ways: every message is a frame: a kind byte (b"J"
      |# json, b"A" arrow ipc), a 4-byte big-endian length, the payload.
      |# Frames own a private copy of the real stdout; fd 1 and sys.stdout
      |# then point at stderr, so a script's print() (or a child process)
      |# lands in the executor log instead of on the wire.
      |_in = sys.stdin.buffer
      |_out = os.fdopen(os.dup(1), "wb")
      |os.dup2(2, 1)
      |sys.stdout = sys.stderr
      |
      |def _read_frame():
      |    # (kind, payload); (None, None) at end of input
      |    h = _in.read(5)
      |    if len(h) < 5:
      |        return None, None
      |    return h[0:1], _in.read(int.from_bytes(h[1:5], "big"))
      |
      |def _write_frame(kind, payload):
      |    _out.write(kind)
      |    _out.write(len(payload).to_bytes(4, "big"))
      |    _out.write(payload)
      |
      |def _write_json(msg):
      |    _write_frame(b"J", json.dumps(msg).encode("utf-8"))
      |
      |def _dec(v, t):
      |    # wire -> script types, driven by the schema descriptor: base64
      |    # str -> bytes, ISO str -> datetime/date (the reference codec's
      |    # BYTES and logical types, PythonObjectsEncoder-equivalent)
      |    if v is None or t is None:
      |        return v
      |    k = t["k"]
      |    if k == "bin": return base64.b64decode(v)
      |    if k == "ts" or k == "ntz": return datetime.datetime.fromisoformat(v)
      |    if k == "date": return datetime.date.fromisoformat(v)
      |    if k == "arr": return [_dec(x, t["e"]) for x in v]
      |    if k == "map": return {kk: _dec(x, t["v"]) for kk, x in v.items()}
      |    if k == "struct":
      |        f = t["f"]
      |        return {kk: _dec(x, f[kk]) if kk in f else x for kk, x in v.items()}
      |    return v
      |
      |def _enc(v, t):
      |    # script -> wire types: bytes -> base64 str, datetime -> ISO str
      |    # (strings pass through untouched, so scripts may also emit
      |    # pre-encoded values)
      |    if v is None or t is None:
      |        return v
      |    k = t["k"]
      |    if k == "bin":
      |        if isinstance(v, (bytes, bytearray, memoryview)):
      |            return base64.b64encode(bytes(v)).decode("ascii")
      |        return v
      |    if k == "ts" or k == "ntz":
      |        return v.isoformat() if isinstance(v, datetime.datetime) else v
      |    if k == "date":
      |        if isinstance(v, datetime.datetime): return v.date().isoformat()
      |        return v.isoformat() if isinstance(v, datetime.date) else v
      |    if k == "arr": return [_enc(x, t["e"]) for x in v]
      |    if k == "map": return {kk: _enc(x, t["v"]) for kk, x in v.items()}
      |    if k == "struct":
      |        f = t["f"]
      |        return {kk: _enc(x, f[kk]) if kk in f else x for kk, x in v.items()}
      |    return v
      |
      |_counts = {}
      |
      |class _Metrics(object):
      |    def count(self, name, n=1):
      |        _counts[name] = _counts.get(name, 0) + n
      |
      |class _Logger(object):
      |    def _log(self, lvl, msg):
      |        _counts["log." + lvl] = _counts.get("log." + lvl, 0) + 1
      |        sys.stderr.write("%s %s\n" % (lvl.upper(), msg))
      |        sys.stderr.flush()
      |    def debug(self, msg): self._log("debug", msg)
      |    def info(self, msg): self._log("info", msg)
      |    def warn(self, msg): self._log("warn", msg)
      |    def error(self, msg): self._log("error", msg)
      |
      |# Channel messages buffer in _buf and leave as one {"t":"bb"} frame
      |# per flush; arrow-mode emits buffer in _ebuf and leave as one "A"
      |# frame ahead of it. Successes collapse into a run-length
      |# {"t":"dn","n":k} marker, so a failure's "f" names its record by
      |# position. Flushed at every input frame's end (bounded reader
      |# latency) and whenever emits plus messages reach the cap (bounded
      |# memory however much one record emits).
      |_buf = []
      |_ebuf = []
      |_drun = [0]
      |_FLUSH_EVERY = %FLUSH_EVERY%
      |
      |def _end_run():
      |    if _drun[0]:
      |        _buf.append({"t": "dn", "n": _drun[0]})
      |        _drun[0] = 0
      |
      |def _flush():
      |    if _ebuf:
      |        try:
      |            _write_frame(b"A", _arrow_out(_ebuf))
      |        except Exception:
      |            # unconvertible emits degrade to json messages
      |            # (schema-driven _enc), never diverge
      |            _buf.extend({"t": "e", "d": _enc(r, _out_types)} for r in _ebuf)
      |        del _ebuf[:]
      |    _end_run()
      |    if _buf:
      |        _write_json({"t": "bb", "d": _buf})
      |        del _buf[:]
      |    _out.flush()
      |
      |def _bound():
      |    if len(_buf) + len(_ebuf) >= _FLUSH_EVERY:
      |        _flush()
      |
      |def _msg(m):
      |    _buf.append(m)
      |    _bound()
      |
      |class _Emitter(object):
      |    def emit(self, record):
      |        if _arrow:
      |            _ebuf.append(record)
      |            _bound()
      |        else:
      |            _msg({"t": "e", "d": _enc(record, _out_types)})
      |    def emitError(self, err):
      |        if _in_types is not None and isinstance(err, dict) \
      |                and isinstance(err.get("invalidRecord"), dict):
      |            err = dict(err)
      |            err["invalidRecord"] = _enc(err["invalidRecord"], _in_types)
      |        _msg({"t": "r", "d": err})
      |    def emitAlert(self, payload): _msg({"t": "a", "d": payload})
      |
      |class _Context(object):
      |    def __init__(self, args, lookups):
      |        self.arguments = args
      |        self.lookups = lookups
      |        self.logger = _Logger()
      |        self.metrics = _Metrics()
      |    def getArguments(self): return self.arguments
      |    def getLogger(self): return self.logger
      |    def getMetrics(self): return self.metrics
      |    def getLookup(self, dataset): return self.lookups.get(dataset, {})
      |    def lookup(self, dataset, key):
      |        d = self.lookups.get(dataset)
      |        return None if d is None else d.get(str(key))
      |
      |_init = json.loads(_read_frame()[1])
      |_in_types = _init.get("in_types")
      |_out_types = _init.get("out_types")
      |
      |# Negotiation, always answered before any batch: the engine offers
      |# arrow (flat codec-heavy schemas past the partition gate) and it is
      |# taken iff pyarrow imports. The script contract is the same either
      |# way: pyarrow's to_pylist hands the transform real int/float/str/
      |# bytes/datetime values, as _dec does for json batches.
      |_arrow = False
      |if _init.get("arrow"):
      |    try:
      |        import pyarrow as _pa
      |        _arrow = True
      |    except Exception:
      |        pass
      |_write_json({"t": "proto", "arrow": _arrow})
      |_out.flush()
      |
      |# the one fork: how a record batch is decoded, and emits encoded
      |if _arrow:
      |    _counts["proto.arrow"] = 1  # observability: negotiated mode
      |    _KIND = {"bool": _pa.bool_(), "i8": _pa.int8(),
      |             "i16": _pa.int16(), "i32": _pa.int32(),
      |             "i64": _pa.int64(), "f32": _pa.float32(),
      |             "f64": _pa.float64(), "str": _pa.string(),
      |             "bin": _pa.binary(),
      |             "ts": _pa.timestamp("us", tz="UTC"),
      |             "ntz": _pa.timestamp("us"), "date": _pa.date32()}
      |    _out_pa = _pa.schema([(n, _KIND[k]) for n, k in _init["out_arrow"]])
      |    def _decode(payload):
      |        return _pa.ipc.open_stream(payload).read_all().to_pylist()
      |    def _arrow_out(rows):
      |        sink = _pa.BufferOutputStream()
      |        w = _pa.ipc.new_stream(sink, _out_pa)
      |        w.write_batch(_pa.RecordBatch.from_pylist(rows, schema=_out_pa))
      |        w.close()
      |        return sink.getvalue().to_pybytes()
      |else:
      |    def _decode(payload):
      |        return [_dec(r, _in_types) for r in json.loads(payload)]
      |
      |_ns = {}
      |exec(_init["script"], _ns)
      |_transform = _ns["transform"]
      |_ctx = _Context(_init.get("arguments", {}), _init.get("lookups", {}))
      |_em = _Emitter()
      |
      |while True:
      |    _kind, _payload = _read_frame()
      |    if _kind is None:
      |        break
      |    # the per-record script contract is unchanged; only the wire
      |    # granularity is batched
      |    for _rec in _decode(_payload):
      |        try:
      |            _transform(_rec, _em, _ctx)
      |            _drun[0] += 1
      |        except Exception as _e:
      |            import traceback
      |            traceback.print_exc(file=sys.stderr)
      |            _end_run()
      |            _msg({"t": "f", "m": "%s: %s" % (type(_e).__name__, _e)})
      |    _flush()  # frame boundary: bound reader latency
      |
      |_write_json({"t": "m", "c": _counts})
      |_out.flush()
      |""".stripMargin
      .replace("%FLUSH_EVERY%", WorkerFlushEvery.toString)
}

/** Schema-driven wire conversion for types JSON cannot carry natively —
  * the process-path twin of the reference's typed codec
  * (ref: PythonObjectsEncoder.java:48 BYTES, :126 logical types, :173
  * decode): BINARY ↔ base64, TIMESTAMP ↔ ISO-8601 UTC micros,
  * TIMESTAMP_NTZ ↔ ISO-8601 local micros, DATE ↔ ISO date. A compact
  * type descriptor (only subtrees that actually need conversion) ships
  * to the worker once at init, so schemas with no such columns pay
  * nothing and the worker never walks plain values. */
private[graft] object WireCodec {
  import java.time.{Instant, LocalDate, LocalDateTime, OffsetDateTime, ZoneOffset}
  import java.time.format.DateTimeFormatter

  // micros always written, offset spelled +00:00 (python
  // datetime.fromisoformat-safe on every 3.x)
  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  // memoized per DataType so the per-record hot path pays a hash lookup,
  // not a type-tree walk (None = nothing below needs conversion)
  private val descCache =
    new java.util.concurrent.ConcurrentHashMap[DataType, Option[Object]]()

  /** JSON-shaped descriptor of the convertible leaves under `dt`;
    * null when nothing below needs conversion (the common case). */
  def descriptor(dt: DataType): Object = {
    // plain get/put, NOT computeIfAbsent: the builder recurses into
    // nested types (would deadlock/fail as a recursive map update);
    // racing builders compute identical values, so last-put-wins is fine
    val cached = descCache.get(dt)
    if (cached != null) cached.orNull
    else {
      val built = Option(descriptorUncached(dt))
      descCache.put(dt, built)
      built.orNull
    }
  }

  private def descriptorUncached(dt: DataType): Object = dt match {
    case BinaryType => leaf("bin")
    case TimestampType => leaf("ts")
    case TimestampNTZType => leaf("ntz")
    case DateType => leaf("date")
    case ArrayType(et, _) =>
      val e = descriptor(et)
      if (e == null) null else { val m = leaf("arr"); m.put("e", e); m }
    case MapType(_, vt, _) =>
      val v = descriptor(vt)
      if (v == null) null else { val m = leaf("map"); m.put("v", v); m }
    case st: StructType =>
      val fs = new java.util.LinkedHashMap[String, Object]()
      st.fields.foreach { f =>
        if (!SchemaCodec.isUnionField(f)) {
          val d = descriptor(f.dataType)
          if (d != null) fs.put(f.name, d)
        }
      }
      if (fs.isEmpty) null else { val m = leaf("struct"); m.put("f", fs); m }
    case _ => null
  }

  private def leaf(kind: String): java.util.LinkedHashMap[String, Object] = {
    val m = new java.util.LinkedHashMap[String, Object]()
    m.put("k", kind)
    m
  }

  /** Decoded record map → JSON-safe map under the input schema. Walks
    * the schema's fields (hash lookups into the record), converting only
    * where needed; keys outside the schema pass through untouched. */
  def mapToWire(m: Map[String, Any], schema: StructType): Map[String, Any] =
    convertMap(m, schema, toWire)

  def toWire(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (b: Array[Byte], BinaryType) =>
      java.util.Base64.getEncoder.encodeToString(b)
    case (t: java.sql.Timestamp, TimestampType) =>
      LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC).format(TsFmt) + "+00:00"
    case (i: Instant, TimestampType) =>
      LocalDateTime.ofInstant(i, ZoneOffset.UTC).format(TsFmt) + "+00:00"
    case (l: LocalDateTime, TimestampNTZType) => l.format(TsFmt)
    case (d: java.sql.Date, DateType) => d.toLocalDate.toString
    case (d: LocalDate, DateType) => d.toString
    // recursion gated on the memoized descriptor: a collection with no
    // convertible leaves below passes through by reference, unwalked
    case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
      if (descriptor(et) == null) s else s.map(toWire(_, et))
    case (m: scala.collection.Map[_, _], MapType(_, vt, _)) =>
      if (descriptor(vt) == null) m else m.map { case (k, x) => k -> toWire(x, vt) }
    case (m: scala.collection.Map[_, _], st: StructType) =>
      if (descriptor(st) == null) m
      else mapToWire(m.asInstanceOf[Map[String, Any]], st)
    case (other, _) => other
  }

  /** JSON-parsed map → decoded record map under the declared schema
    * (what [[SchemaCodec.mapToRow]] expects). */
  def mapFromWire(m: Map[String, Any], schema: StructType): Map[String, Any] =
    convertMap(m, schema, fromWire)

  private def convertMap(m: Map[String, Any], schema: StructType,
                         conv: (Any, DataType) => Any): Map[String, Any] = {
    var out = m
    schema.fields.foreach { f =>
      // only fields with convertible leaves are touched (memoized check);
      // plain columns — however large — pass through by reference
      if (!SchemaCodec.isUnionField(f) && descriptor(f.dataType) != null)
        m.get(f.name) match {
          case Some(v) =>
            val w = conv(v, f.dataType)
            if (w.asInstanceOf[AnyRef] ne v.asInstanceOf[AnyRef])
              out = out.updated(f.name, w)
          case None =>
        }
    }
    out
  }

  def fromWire(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: String, BinaryType) => java.util.Base64.getDecoder.decode(s)
    case (s: String, TimestampType) =>
      // aware ISO from the worker (or a naive string = assume UTC)
      try java.sql.Timestamp.from(OffsetDateTime.parse(s).toInstant)
      catch { case _: java.time.format.DateTimeParseException =>
        java.sql.Timestamp.from(LocalDateTime.parse(s).toInstant(ZoneOffset.UTC)) }
    case (s: String, TimestampNTZType) => LocalDateTime.parse(s)
    case (s: String, DateType) => java.sql.Date.valueOf(LocalDate.parse(s))
    case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
      if (descriptor(et) == null) s else s.map(fromWire(_, et))
    case (m: scala.collection.Map[_, _], MapType(_, vt, _)) =>
      if (descriptor(vt) == null) m else m.map { case (k, x) => k -> fromWire(x, vt) }
    case (m: scala.collection.Map[_, _], st: StructType) =>
      if (descriptor(st) == null) m
      else mapFromWire(m.asInstanceOf[Map[String, Any]], st)
    case (other, _) => other
  }
}

/** Scala ↔ java.util JSON-shape conversion for the process boundary. */
private[graft] object JsonCodec {
  def toJava(v: Any): Object = v match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Object]()
      m.foreach { case (k, x) => out.put(String.valueOf(k), toJava(x)) }
      out
    case s: scala.collection.Seq[_] =>
      val out = new java.util.ArrayList[Object](s.length)
      s.foreach(x => out.add(toJava(x)))
      out
    case other => other.asInstanceOf[Object]
  }

  def toScala(v: Any): Any = v match {
    case null => null
    case m: java.util.Map[_, _] =>
      val b = Map.newBuilder[String, Any]
      m.forEach((k, x) => b += String.valueOf(k) -> toScala(x))
      b.result()
    case l: java.util.List[_] =>
      val b = Seq.newBuilder[Any]
      l.forEach(x => b += toScala(x))
      b.result()
    case i: java.math.BigInteger => i.longValueExact()
    case d: java.math.BigDecimal => d.doubleValue()
    case other => other
  }
}
