# Reference-shaped transform over records with a BINARY payload, a
# TIMESTAMP and a DATE; the same branches as native.py. Its in-JVM twin
# is Scripts.codecJvm in scala/Harness.scala.
import datetime


def transform(record, emitter, context):
    context.getMetrics().count("calls")
    k = record["k"]
    if k % 20 == 0:
        if k % 40 == 0:
            raise ValueError("bad k")
        emitter.emitError({"errorCode": 3, "errorMsg": "k rejected",
                           "invalidRecord": record})
        return
    p = record["payload"]
    out = {"id": record["id"], "k": k, "head": p[:8], "n_bytes": len(p),
           "shifted": record["ts"] + datetime.timedelta(minutes=90),
           "next_day": record["day"] + datetime.timedelta(days=1),
           "copy": 0}
    emitter.emit(out)
    if k % 10 == 1:
        emitter.emit(dict(out, copy=1))
    if k % 1000 == 7:
        emitter.emitAlert({"id": str(record["id"]), "reason": "k7"})
