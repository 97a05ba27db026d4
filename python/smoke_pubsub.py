"""End-to-end smoke for the PySpark shim: pull from the in-JVM bus with
a Python-set bulk_limit, process with a PANDAS UDF (real Python-worker
execution -- the reference's processor slot), publish, and ack.

Run from the repo root after `sbt compile`:

    python3 python/smoke_pubsub.py

Prints PASS lines; exits non-zero on any failure.
"""

import json
import sys

from pyspark.sql import SparkSession
import pyspark.sql.functions as F
from pyspark.sql.functions import pandas_udf

sys.path.insert(0, "python")
from graft_pubsub import PubSubPipeline

CLASSES = "target/scala-2.13/classes"

spark = (SparkSession.builder.master("local[4]")
         .appName("graft-py-smoke")
         .config("spark.driver.extraClassPath", CLASSES)
         .config("spark.executor.extraClassPath", CLASSES)
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

jbus = spark._jvm.graft.sources.InMemoryBus
jbus.createTopic("py-in")
jbus.createSubscription("py-in", "py-insub")
jbus.createTopic("py-out")
jbus.createSubscription("py-out", "py-outsub")

N = 25
for i in range(1, N + 1):
    jbus.publish("py-in", json.dumps({"x": i}).encode("utf-8"))


@pandas_udf("long")
def square(x):
    # runs in a Python worker on the executor -- the processor slot
    return x * x


def processor(df):
    return df.select(F.col("payload.x").alias("x"),
                     square(F.col("payload.x")).alias("x_squared"))


pipe = PubSubPipeline(spark, processor, "py-insub", "py-out",
                      message_schema="x long", bulk_limit=10)
q = pipe.process()

# --- verify the published results -------------------------------------
raw = jbus.payloads("py-outsub")  # a scala Seq over py4j: apply()/size()
got = sorted(json.loads(bytes(raw.apply(i)).decode("utf-8"))["x_squared"]
             for i in range(raw.size()))
want = sorted(i * i for i in range(1, N + 1))
assert got == want, f"payloads wrong: {got[:5]}... vs {want[:5]}..."
# bulk_limit=10 reached the source: 25 messages in batches of 10/10/5
batches = [p.numInputRows for p in q.recentProgress if p.numInputRows > 0]
assert batches == [10, 10, 5], f"batch sizes {batches}, want [10, 10, 5]"
print(f"PASS: {N} messages processed by a pandas UDF in batches of "
      f"{'/'.join(map(str, batches))} and published")

# --- ack-on-publish-success: acked before an AvailableNow run ends ---
committed = jbus.committedOffset("py-insub")
assert committed == N, f"acked {committed} of {N}"
print(f"PASS: subscription acked to {committed} after publish success")

spark.stop()
print("PASS: smoke complete")
