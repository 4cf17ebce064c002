"""Import-mode state machine — SURVEY.md I1.

Mirrors the reference's ImportMode
(/root/reference/docker/helpers.py:238-405): flags (replication,
replication_update, update, force) resolve to slim/append/post-sql behavior,
and ``okay_to_run`` guards against clobbering newer-version outputs unless
forced (the version-monotonicity check, helpers.py:376-405).
"""

from __future__ import annotations

from dataclasses import dataclass


def _version_tuple(v: str) -> tuple[int, ...]:
    parts = []
    for p in v.split("."):
        digits = "".join(ch for ch in p if ch.isdigit())
        parts.append(int(digits) if digits else 0)
    return tuple(parts)


@dataclass(frozen=True)
class ImportMode:
    replication: bool = False
    replication_update: bool = False
    update: str | None = None  # None | 'create' | 'append'
    force: bool = False

    def __post_init__(self):
        if self.update not in (None, "create", "append"):
            raise ValueError("update must be None, 'create' or 'append'")

    @property
    def slim_no_drop(self) -> bool:
        """Keep intermediate state across runs: set when replicating or when
        --update was given with ANY value, including 'create'
        (set_slim_no_drop, helpers.py:364-374)."""
        return self.replication or self.update is not None

    @property
    def append_first_run(self) -> bool:
        """True by default (a plain no-flags run IS a first run); False for
        replication updates; --update takes precedence both ways
        (set_append_first_run, helpers.py:349-362)."""
        if self.update is not None:
            return self.update == "create"
        return not self.replication_update

    @property
    def run_post_sql(self) -> bool:
        """Post-processing SQL runs unless in --update=append mode
        (set_run_post_sql, helpers.py:376-389 — replication updates skip it
        upstream via osm2pgsql-replication, not via this flag)."""
        return self.update != "append"

    def okay_to_run(self, prior: dict | None, engine_version: str) -> bool:
        """Data-loss guard (okay_to_run, helpers.py:284-352): force always
        wins; no prior import always proceeds; a prior import from a NEWER
        engine version refuses; replication requires the prior import to have
        used replication; append mode proceeds; anything else (a plain
        re-import over existing data) requires --force."""
        if self.force:
            return True
        if not prior:
            return True
        prior_version = prior.get("engine_version")
        if prior_version is not None and _version_tuple(prior_version) > _version_tuple(
            engine_version
        ):
            return False
        if self.replication:
            return bool(prior.get("replication", False))
        if self.update == "append":
            return True
        return False
