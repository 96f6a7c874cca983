"""Versioned schema catalog with a backward-compatibility gate
(SURVEY.md §1.1 item 4; VERDICT r6 item 5).

The reference stack runs a Confluent Schema Registry next to the
Connect sink (docker-compose-main.yml:179-202): every topic's value
schema is a numbered SUBJECT VERSION, and an evolution is only applied
after the registry accepts it as backward-compatible; the sink then
``auto.evolve``s the table (README.md:787). This module is that
registry's file-backed analog for the engine:

- a SUBJECT is a sink table's row-image schema (key + data columns,
  no ``__deleted``/SCN bookkeeping);
- each accepted evolution writes ``{root}/{subject}/v{N}.avsc`` (the
  Avro rendering, ``serde.avro_schema_for`` — the registry wire form)
  plus ``v{N}.spark.json`` (the exact StructType, for lossless
  round-trip: Avro has no int-vs-smallint or decimal-precision-free
  distinction);
- the gate enforces a STRICTER-than-registry-BACKWARD, sink-oriented
  policy (ADVICE r7: Confluent BACKWARD permits field deletion — a new
  reader still reads old data — but a SQL ``auto.evolve`` sink cannot
  un-create a column, so drops are refused here): a new version may
  add nullable columns and widen numeric/decimal types along exactly
  the lattice the merge path applies
  (``cdc.materialize._wider_type``); it may not drop a column, narrow
  a type, or change a column to an unrelated type. Rejections raise
  BEFORE any state mutation, so an incompatible feed fails the
  micro-batch instead of corrupting the sink (the registry's 409
  Conflict analog).

Scale note: the catalog is driver-side metadata — a handful of
KB-scale files per subject, read once per micro-batch and written only
on an accepted evolution. Nothing here touches executors.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import types as T

from olr_cdc_oracle_no_dbz_spark.catalog import write_atomic
from olr_cdc_oracle_no_dbz_spark.cdc.materialize import _wider_type
from olr_cdc_oracle_no_dbz_spark.serde import avro_schema_for

_V_RE = re.compile(r"^v(\d+)\.spark\.json$")


class SchemaCompatibilityError(ValueError):
    """An evolution the backward-compatibility gate refused. Carries the
    per-column problem list so the operator sees every violation at
    once (the registry's error body analog)."""

    def __init__(self, subject: str, problems: list[str]) -> None:
        self.subject = subject
        self.problems = problems
        super().__init__(
            f"incompatible schema evolution for subject {subject!r}: "
            + "; ".join(problems)
        )


def backward_problems(old: T.StructType, new: T.StructType) -> list[str]:
    """Every way ``new`` fails to be a backward-compatible successor of
    ``old``: dropped columns, narrowed/unrelated type changes
    (``_wider_type``'s lattice is the single source of truth — a change
    is a widening iff ``_wider_type(old, new) == new``), and added
    columns that are not nullable (historical rows predate them, so a
    NOT NULL addition could never be read back)."""
    problems: list[str] = []
    new_fields = {f.name: f for f in new.fields}
    old_names = {f.name for f in old.fields}
    for f in old.fields:
        nf = new_fields.get(f.name)
        if nf is None:
            problems.append(f"column {f.name!r} dropped")
            continue
        ot, nt = f.dataType.simpleString(), nf.dataType.simpleString()
        if ot == nt:
            continue
        try:
            wider = _wider_type(ot, nt, f.name)
        except TypeError as exc:
            problems.append(str(exc))
            continue
        if wider != nt:
            problems.append(
                f"column {f.name!r} narrowed: {ot} -> {nt} "
                f"(widening target is {wider})"
            )
    for f in new.fields:
        if f.name not in old_names and not f.nullable:
            problems.append(f"new column {f.name!r} must be nullable")
    return problems


def evolve_struct(old: T.StructType, new: T.StructType) -> T.StructType:
    """The column-superset, widened successor schema — the same target
    ``cdc.materialize._align_schemas`` computes for the state merge,
    expressed as a StructType: old columns keep their order and widen
    where ``new`` widens them; columns only in ``new`` append in their
    ``new`` order. Raises TypeError (via ``_wider_type``) on an
    unrelated type change."""
    new_types = {f.name: f.dataType.simpleString() for f in new.fields}
    fields: list[T.StructField] = []
    for f in old.fields:
        nt = new_types.get(f.name)
        ot = f.dataType.simpleString()
        target = ot if nt is None or nt == ot else _wider_type(ot, nt, f.name)
        dt = f.dataType if target == ot else _parse_type(target)
        fields.append(T.StructField(f.name, dt, True))
    old_names = {f.name for f in old.fields}
    for f in new.fields:
        if f.name not in old_names:
            fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(fields)


#: the only types ``_wider_type`` can produce — parsed locally so the
#: catalog never needs a live SparkSession (registry-side metadata)
_SIMPLE_TYPES = {
    "tinyint": T.ByteType(),
    "smallint": T.ShortType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
}


def _parse_type(simple: str) -> T.DataType:
    m = re.fullmatch(r"decimal\((\d+),(\d+)\)", simple)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    return _SIMPLE_TYPES[simple]


class SchemaCatalog:
    """File-backed subject→versions store under ``root``."""

    def __init__(self, root: str) -> None:
        self.root = root

    def _subject_dir(self, subject: str) -> str:
        if "/" in subject or subject.startswith("."):
            raise ValueError(f"invalid subject name {subject!r}")
        return os.path.join(self.root, subject)

    def versions(self, subject: str) -> list[int]:
        d = self._subject_dir(subject)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(m.group(1)) for e in os.listdir(d) if (m := _V_RE.match(e))
        )

    def get(self, subject: str, version: int) -> T.StructType:
        path = os.path.join(self._subject_dir(subject), f"v{version}.spark.json")
        with open(path) as fh:
            return T.StructType.fromJson(json.load(fh))

    def latest(self, subject: str) -> tuple[int, T.StructType] | None:
        vs = self.versions(subject)
        if not vs:
            return None
        return vs[-1], self.get(subject, vs[-1])

    def register(self, subject: str, struct: T.StructType) -> int:
        """Accept ``struct`` as the subject's next version.

        Identical to the latest version → no-op, returns that version
        (idempotent under foreachBatch retries). Backward-incompatible
        → SchemaCompatibilityError, nothing written. Otherwise writes
        ``v{N}.avsc`` + ``v{N}.spark.json`` atomically (tmp + rename)
        and returns N.
        """
        cur = self.latest(subject)
        if cur is not None:
            version, latest = cur
            if latest.jsonValue() == struct.jsonValue():
                return version
            problems = backward_problems(latest, struct)
            if problems:
                raise SchemaCompatibilityError(subject, problems)
            n = version + 1
        else:
            n = 1
        d = self._subject_dir(subject)
        os.makedirs(d, exist_ok=True)
        for suffix, payload in (
            (".avsc", avro_schema_for(struct, name=subject)),
            (".spark.json", json.dumps(struct.jsonValue(), indent=2)),
        ):
            write_atomic(os.path.join(d, f"v{n}{suffix}"), payload)
        return n

    def check_and_register(self, subject: str, struct: T.StructType) -> int:
        """Gate + evolve in one step, the per-batch call site: widen the
        stored latest with ``struct`` (column superset, lattice
        widenings) and register the result. A batch that only re-sends
        known columns is a no-op; a batch with an unrelated type change
        raises SchemaCompatibilityError (wrapping the lattice's
        TypeError) before the caller touches state."""
        cur = self.latest(subject)
        if cur is None:
            return self.register(subject, struct)
        _, latest = cur
        try:
            target = evolve_struct(latest, struct)
        except TypeError as exc:
            raise SchemaCompatibilityError(subject, [str(exc)]) from exc
        return self.register(subject, target)
