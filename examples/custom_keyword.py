"""Custom keyword: ``enumRef`` resolves its value against a cached
remote enumeration (functional mirror of the reference's
examples/custom_keyword.py, re-expressed Spark-first).

The registration supplies BOTH execution paths:
  * a compile-time Python predicate factory (Arrow batch path) — an
    unknown reference raises at compile, like the reference's
    EnumRefKeyword.__init__;
  * a Column fast path (``isin``) so typed rows stay JVM-side.
"""

from pyspark.sql import functions as F  # noqa: F401 (example parity)

from jschon_spark import ConstraintEngine, get_spark
from jschon_spark.functions.registry import custom_keyword, unregister_keyword

# cache of enumeration values obtained from remote terminology services
remote_enum_cache = {
    "https://example.com/remote-enum-colours": [
        "red", "orange", "yellow", "green", "blue", "indigo", "violet",
    ]
}


@custom_keyword(
    "enumRef",
    instance_types=("string",),
    column_fn=lambda ref, col, dtype: col.isin(remote_enum_cache[ref]),
    error="value not found in the referenced enumeration",
)
def enum_ref(ref):
    enum = remote_enum_cache[ref]  # KeyError at compile = unknown reference
    return lambda instance: instance in enum


spark = get_spark(cores=4)
engine = ConstraintEngine()
compiled = engine.compile({
    "$id": "https://example.com/remote-enum-test",
    "type": "object",
    "properties": {
        "colour": {
            "type": "string",
            "enumRef": "https://example.com/remote-enum-colours",
        }
    },
})

df = spark.createDataFrame(
    [("red",), ("purple",), (None,)], "colour string"
)
for r in sorted(
    compiled.apply_typed(df).select("colour", "passed").collect(),
    key=lambda r: (r.colour is None, r.colour),
):
    print(r.colour, r.passed)

# lowering a schema with an unknown enumeration reference fails fast
# (the Column fn resolves the reference while the plan is being built,
# before any executor work — like the reference's construction-time check)
bad = engine.compile({"properties": {"colour": {"enumRef": "https://example.com/nope"}}})
try:
    bad.apply_typed(df)
except KeyError as e:
    print("lowering error:", e)

unregister_keyword("enumRef")  # leave the registry clean
