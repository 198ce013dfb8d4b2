"""Core engine datatypes.

The reference discovers "entity types" at runtime, each with a name and a
``uniqueIdField`` (reference app.js:44-46); here a :class:`TableSpec` carries
the same metadata plus the event-time column used for incremental scans and
change-ignore semantics (reference cache.js:16 ``IGNORED_PROPS =
['updatedOnMs']``).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class TableSpec:
    """Metadata for one logical table ('entity type' in the reference).

    - ``name``: table name; reference app.js:20-27 iterates these.
    - ``id_field``: primary-key column (reference ``uniqueIdField``,
      app.js:46). Rows with NULL id are dropped (cache.js:70-74).
    - ``ts_field``: event-time column in epoch ms or timestamp (reference
      ``updatedOnMs``, cache.js:16). Excluded from change comparison.
    """

    name: str
    id_field: str
    ts_field: str = "updatedOnMs"


@dataclass
class EngineConfig:
    """Engine knobs, mirroring reference config.json.

    - ``max_batch_size``: sink batch row cap (config.json:19, default 10000)
    - ``state_ttl_hours``: keyed-state TTL (config.json:21, default 8)
    - ``initial_checkpoint_ms``: first-run high-water mark (cache.js:18,
      default 1)
    - ``profile``: execution profile name (``entity_etl_spark.profile``):
      ``"parity"`` (default) leaves every LSH-family hot-group cap off so
      oracle comparisons see complete output; ``"production"`` flips every
      cap/auto-scale default on so a deployment does not depend on callers
      remembering per-operator knobs. pipeline.run_incremental/run_all
      activate it on entry.
    """

    max_batch_size: int = 10_000
    state_ttl_hours: float = 8.0
    initial_checkpoint_ms: int = 1
    state_dir: str = "data/state"
    profile: str = "parity"
    extra: dict = field(default_factory=dict)
