# Reference-shaped transform over plain records (ints, doubles, short
# strings). Branches key on `k`: k % 20 == 0 is an error (k % 40 == 0
# raises, the rest go through emitError), k % 10 == 1 emits twice,
# k % 1000 == 7 raises an alert.
def transform(record, emitter, context):
    args = context.getArguments()
    context.getMetrics().count("calls")
    k = record["k"]
    if k % 20 == 0:
        if k % 40 == 0:
            raise ValueError("bad k")
        emitter.emitError({"errorCode": 3, "errorMsg": "k rejected",
                           "invalidRecord": record})
        return
    out = {"id": record["id"], "k": k, "cat": record["cat"],
           "tag": record["tag"],
           "amount": record["price"] * record["qty"] * float(args["rate"]),
           "flag": "hi" if record["weight"] >= float(args["cut"]) else "lo",
           "copy": 0}
    emitter.emit(out)
    if k % 10 == 1:
        emitter.emit(dict(out, copy=1))
    if k % 1000 == 7:
        emitter.emitAlert({"id": str(record["id"]), "reason": "k7"})
