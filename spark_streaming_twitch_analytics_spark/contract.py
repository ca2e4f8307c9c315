"""The driver-canonicalizer output contract.

The verification driver collects each registered query's result into a
pandas frame and canonicalizes rows by lexsorting every value column
(``sort_values`` → ``Categorical`` → ``factorize``). pandas hashes cell
values to factorize them, and Python lists/dicts are unhashable — so a
result schema with a top-level ``ArrayType``/``MapType``/``StructType``
column makes the driver record ``err: TypeError: unhashable type`` no
matter how correct the values are (round 8's ``multimodal_image_resize``
was the first and must stay the last instance).

Container types remain fine INSIDE a plan; the contract binds only the
final projected schema. To ship vector-shaped results, explode to one
row per element, aggregate to a scalar, or encode to a string (hex /
``concat_ws``) — each keeps an exact oracle expressible in ANSI SQL.

Used by ``tests/test_contract.py`` (lazy schema lint over all batch
queries) and ``tools/compare_oracle.py`` (the executed oracle run, which
also covers the ``streaming_*`` queries).
"""

from __future__ import annotations

import pyspark.sql.types as T

#: Types the driver's pandas canonicalizer cannot factorize. Container
#: types hold Python lists/dicts (unhashable). BinaryType is flagged
#: too (ADVICE r9): Spark's collect() materializes binary cells as
#: ``bytearray`` — unhashable, unlike ``bytes`` — so a binary output
#: column passes a bytes-only reading of the contract yet still errs in
#: the driver; ship binary results hex-encoded instead (the multimodal
#: family already does).
_CONTAINER_TYPES = (T.ArrayType, T.MapType, T.StructType, T.BinaryType)


def non_atomic_fields(schema: T.StructType) -> dict[str, str]:
    """Top-level fields of ``schema`` whose type the driver cannot
    canonicalize, as {name: simpleString}. Empty dict == contract-safe."""
    return {
        f.name: f.dataType.simpleString()
        for f in schema.fields
        if isinstance(f.dataType, _CONTAINER_TYPES)
    }
