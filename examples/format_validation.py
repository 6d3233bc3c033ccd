"""Registering format validators (functional mirror of the reference's
examples/format_validation.py, Spark-first).

``mac-address`` is not a built-in format; registering it supplies the
Python predicate (batch/oracle path) and a Column regex (typed fast
path). With ``assert_formats=True`` the keyword then asserts, exactly
like ``catalog.enable_formats`` in the reference.
"""

import re

from jschon_spark import ConstraintEngine, get_spark
from jschon_spark.functions.registry import format_validator, unregister_format

_MAC = r"^([0-9A-Fa-f]{2}:){5}[0-9A-Fa-f]{2}$"


@format_validator(
    "mac-address",
    column_fn=lambda c: c.rlike(_MAC),
)
def validate_mac(value) -> bool:
    return isinstance(value, str) and re.fullmatch(_MAC, value) is not None


spark = get_spark(cores=4)
engine = ConstraintEngine(assert_formats=True)
compiled = engine.compile({
    "$id": "https://example.com/nic-schema",
    "type": "object",
    "required": ["mac"],
    "properties": {
        "mac": {"type": "string", "format": "mac-address"},
        "ip": {"type": "string", "format": "ipv4"},  # built-in format
    },
})

df = spark.createDataFrame(
    [
        ("aa:bb:cc:dd:ee:ff", "127.0.0.1"),
        ("aa:bb:cc:dd:ee", "10.0.0.300"),
        ("not-a-mac", None),
    ],
    "mac string, ip string",
)
out = compiled.apply_typed(df)
for r in sorted(out.collect(), key=lambda r: r.mac):
    viols = sorted((v.keyword, v.instance_path) for v in (r.violations or []))
    print(r.mac, r.passed, viols)

unregister_format("mac-address")  # leave the registry clean
