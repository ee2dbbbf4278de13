"""S12: config lookup as data with tolerant JSON coercion.

The reference reads decision thresholds from a ``configs`` table whose
``value`` column is JSONB holding a bare number, an object ``{"value": x}``,
or a quoted string, falling back to a default on anything else
(``_get_cfg``, /root/reference/app/main.py:211-235; table
app/schema.sql:99-107). Here the table is ``(scope string, key string,
value string)`` with ``value`` as JSON text; coercion is a Column
expression (try_cast chain — never an ANSI error) so it runs engine-side,
and resolution collects the tiny table once per run (configs are a
broadcast-scale dimension; the reference does a point SELECT per key).
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ValidationConfig field -> configs key (reference app/main.py:301-303 reads
# hold/review thresholds through _get_cfg with these defaults)
THRESHOLD_KEYS = {
    "hold_threshold": "t_hold",
    "review_threshold": "t_review",
}


def coerce_config_value(value: Column) -> Column:
    """Tolerant JSON → double coercion (app/main.py:222-235 semantics).

    bare number ⇒ itself; object with a "value" member ⇒ that member;
    quoted numeric string ⇒ parsed; anything else ⇒ NULL (caller applies
    the default via coalesce).
    """
    direct = value.try_cast("double")
    from_obj = F.get_json_object(value, "$.value").try_cast("double")
    unquoted = F.when(
        value.rlike(r'^".*"$'), F.regexp_replace(value, r'^"|"$', "")
    ).try_cast("double")
    return F.coalesce(direct, from_obj, unquoted)


def config_values(configs: DataFrame, defaults: dict[str, float]) -> dict[str, float]:
    """Resolve ``defaults``' keys against the configs table's ``global``
    scope.

    One collect of a tiny filtered projection — the distributed analog of
    the reference's per-key point SELECT. Unknown keys and uncoercible
    values keep their defaults.
    """
    rows = (
        configs.where((F.col("scope") == "global") & F.col("key").isin(*defaults.keys()))
        .select("key", coerce_config_value(F.col("value")).alias("v"))
        .collect()
    )
    found = {r["key"]: r["v"] for r in rows if r["v"] is not None}
    return {k: float(found.get(k, d)) for k, d in defaults.items()}


def apply_config_table(config, configs: DataFrame):
    """ValidationConfig + configs table → ValidationConfig with threshold
    overrides applied (S12 end-to-end: the run reads its thresholds from
    data, not code)."""
    defaults = {
        THRESHOLD_KEYS["hold_threshold"]: config.hold_threshold,
        THRESHOLD_KEYS["review_threshold"]: config.review_threshold,
    }
    resolved = config_values(configs, defaults)
    return replace(
        config,
        hold_threshold=resolved[THRESHOLD_KEYS["hold_threshold"]],
        review_threshold=resolved[THRESHOLD_KEYS["review_threshold"]],
    )
