import os, sys, time, shutil, statistics
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
from simple_land_registry_data_ingestion_spark.session import get_spark
from simple_land_registry_data_ingestion_spark.operators.substrate import store_root
from simple_land_registry_data_ingestion_spark.operators import mining, dedup

SF="/root/testdata/sf0.1"
spark = get_spark(app_name="store-build-prof", extra_conf={"spark.driver.memory":"16g"})
spark.sparkContext.setLogLevel("ERROR")
noop = lambda df: df.write.format("noop").mode("overwrite").save()

frames = [
  ("basket_items",    lambda: mining.shared_basket_items(spark, SF)),
  ("copurchase_pairs",lambda: mining.shared_copurchase_pairs(spark, SF)),
  ("prefix_index",    lambda: dedup.shared_prefix_index(spark, SF)),
  ("minhash_graph",   lambda: dedup.shared_minhash_graph(spark, SF)),
  ("simhash_graph",   lambda: dedup.shared_simhash_graph(spark, SF)),
]
# warm everything once (JIT, pools)
for _, f in frames: noop(f())

res = {n: {"cold": [], "warm": []} for n, _ in frames}
for p in range(4):
    shutil.rmtree(store_root(), ignore_errors=True)
    order = frames if p % 2 == 0 else list(reversed(frames))   # ABBA across passes
    for n, f in order:
        t = time.monotonic(); noop(f()); res[n]["cold"].append(round(time.monotonic()-t,3))
    for n, f in order:
        t = time.monotonic(); noop(f()); res[n]["warm"].append(round(time.monotonic()-t,3))
for n, _ in frames:
    c, w = sorted(res[n]["cold"]), sorted(res[n]["warm"])
    med = statistics.median
    print(f"{n}: cold min={c[0]:.2f} med={med(c):.2f} | warm min={w[0]:.2f} med={med(w):.2f} | build≈{med(c)-med(w):.2f}")
print("raw:", res)
spark.stop()
