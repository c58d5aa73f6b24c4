"""Seeded synthetic Guidewire CDA tree, with the Delta state it must index to.

Layout, as the connector reads it::

    <root>/manifest.json
    <root>/source/<table>/<fingerprint>/<commitTimestampMillis>/part-*.parquet

*Deep* tables start with hundreds of commit folders and change schema
fingerprint twice, so their logs cross many interval-10 checkpoints;
*shallow* tables start with a dozen folders over 2-3 fingerprints.  The
tree carries the reference connector's edge cases: a zero-record file
that is the smallest file of a fingerprint's first folder (and has
another schema, so sniffing it would show), a zero-byte file, a
dot-file, an empty committed folder, and a folder newer than
``lastSuccessfulWriteTimestamp``.

The *shape* of the tree (tables, folders, files per folder, rows per
file, which tables each poll touches) is fixed; the seed draws the
values: fingerprints, timestamps, file names and row contents.  So
every seed gives the same amount of work and the same connector counts.

``land(i)`` adds the folders of poll ``i``.  The tree keeps a record of
every folder it wrote, and ``expected()`` derives from that record alone
what ``load_snapshot`` must show for a table: live files, schema and
version count.
"""

from __future__ import annotations

import io
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# Schema of each fingerprint generation: (column, arrow type, the Delta
# simpleString the connector must report).  Generation g has 4 + g columns.
_COLUMNS = [
    ("id", pa.int64(), "bigint"),
    ("policy_number", pa.string(), "string"),
    ("premium", pa.float64(), "double"),
    ("active", pa.bool_(), "boolean"),
    ("effective_date", pa.date32(), "date"),
    ("updated_at", pa.timestamp("us"), "timestamp"),
    ("region_code", pa.int32(), "int"),
]
_GENERATIONS = 3

BASE_TS = 1_700_000_000_000
DEEP_TABLES, DEEP_FOLDERS = 2, 200
SHALLOW_TABLES, SHALLOW_FOLDERS = 6, 12
# Each poll lands one folder on one deep and two shallow tables, in
# rotation, plus one folder past the watermark on the deep table the
# next poll touches: every poll commits four folders.
SHALLOW_PER_POLL = 2


def _schema_columns(generation: int) -> list[tuple[str, pa.DataType, str]]:
    return _COLUMNS[: 4 + generation]


def _payload(rng: random.Random, generation: int, rows: int) -> bytes:
    """A tiny snappy parquet file; values are drawn from fixed-width
    domains, so the file size stays within the same number of digits
    for every seed."""
    data = {}
    for name, atype, _ in _schema_columns(generation):
        if name == "id":
            values = [rng.randrange(10**8, 10**9) for _ in range(rows)]
        elif name == "policy_number":
            values = [f"PN-{rng.randrange(10**6):06d}" for _ in range(rows)]
        elif name == "premium":
            values = [rng.randrange(10_000, 99_999) + 0.5 for _ in range(rows)]
        elif name == "active":
            values = [rng.random() < 0.5 for _ in range(rows)]
        elif name == "effective_date":
            data[name] = pa.array([rng.randrange(18_000, 20_000) for _ in range(rows)], pa.int32()).cast(atype)
            continue
        elif name == "updated_at":
            values = [1_700_000_000_000_000 + rng.randrange(10**12) for _ in range(rows)]
        else:
            values = [rng.randrange(7) for _ in range(rows)]
        data[name] = pa.array(values, type=atype)
    buf = io.BytesIO()
    pq.write_table(pa.table(data), buf, compression="snappy")
    return buf.getvalue()


def _zero_record_payload() -> bytes:
    buf = io.BytesIO()
    pq.write_table(pa.table({"id": pa.array([], type=pa.int64())}), buf)
    return buf.getvalue()


@dataclass
class Folder:
    fingerprint: str
    ts: int
    files: list[str]  # the files the connector must add (empty: no commit)


@dataclass
class TableState:
    name: str
    index: int
    data_dir: str
    fingerprints: list[tuple[str, int]] = field(default_factory=list)  # (fp, generation)
    folders: list[Folder] = field(default_factory=list)
    watermark: int = 0
    next_ts: int = BASE_TS


@dataclass(frozen=True)
class Expected:
    files: frozenset[str]
    schema: tuple[tuple[str, str], ...]
    versions: int


class CdaTree:
    """A CDA source tree under ``root`` that grows poll by poll."""

    def __init__(self, root: str, seed: int) -> None:
        self.root = os.path.abspath(root)
        self.manifest_path = os.path.join(self.root, "manifest.json")
        self.database_path = os.path.join(self.root, "db")
        self.rng = random.Random(seed)
        self._payloads = {(g, r): _payload(self.rng, g, r) for g in range(_GENERATIONS) for r in range(1, 6)}
        self._zero_record = _zero_record_payload()
        self.tables: dict[str, TableState] = {}
        self.deep = [f"deep_{i:02d}" for i in range(DEEP_TABLES)]
        self.shallow = [f"shallow_{i:02d}" for i in range(SHALLOW_TABLES)]
        for i, name in enumerate(self.deep):
            # two fingerprint changes, at a third and two thirds of the history
            self._create_table(name, i, [DEEP_FOLDERS * k // 3 for k in range(4)])
        for i, name in enumerate(self.shallow):
            n_fp = 2 + i % 2
            bounds = [SHALLOW_FOLDERS * k // n_fp for k in range(n_fp + 1)]
            self._create_table(name, DEEP_TABLES + i, bounds)
        self._place_edge_cases()
        self._write_manifest()

    # -- building ----------------------------------------------------------

    def _write(self, path: str, data: bytes) -> None:
        with open(path, "wb") as fh:
            fh.write(data)

    def _land_folder(self, table: TableState, *, zero_record: bool = False, empty: bool = False) -> Folder:
        fp, generation = table.fingerprints[-1]
        table.next_ts += self.rng.randrange(1_000, 60_000)
        folder = Folder(fp, table.next_ts, [])
        path = os.path.join(table.data_dir, fp, str(folder.ts))
        os.makedirs(path)
        n = len(table.folders)
        for k in range(0 if empty else 1 + (n + table.index) % 3):
            rows = 1 + (n + k) % 5
            name = f"part-{k:05d}-{self.rng.getrandbits(64):016x}-c000.snappy.parquet"
            self._write(os.path.join(path, name), self._payloads[(generation, rows)])
            folder.files.append(os.path.join(path, name))
        if zero_record:
            # bytes but no records, smaller than every other file of the
            # folder: schema inference must skip it, the log adds it
            name = f"part-{9999:05d}-{self.rng.getrandbits(64):016x}-c000.snappy.parquet"
            self._write(os.path.join(path, name), self._zero_record)
            folder.files.append(os.path.join(path, name))
        table.folders.append(folder)
        return folder

    def _create_table(self, name: str, index: int, bounds: list[int]) -> None:
        table = TableState(name, index, os.path.join(self.root, "source", name))
        table.next_ts = BASE_TS + self.rng.randrange(10_000_000)
        self.tables[name] = table
        for f in range(len(bounds) - 1):
            fp = str(self.rng.randrange(10**8, 10**9))
            table.fingerprints.append((fp, f % _GENERATIONS))
            for j in range(bounds[f], bounds[f + 1]):
                self._land_folder(table, zero_record=(j == bounds[f] and f > 0))
        table.watermark = table.next_ts

    def _place_edge_cases(self) -> None:
        first = self.tables[self.shallow[0]]
        folder = first.folders[1]
        path = os.path.join(first.data_dir, folder.fingerprint, str(folder.ts))
        open(os.path.join(path, "part-99998-zero-bytes-c000.snappy.parquet"), "wb").close()
        self._write(os.path.join(path, ".part-99997-hidden-c000.snappy.parquet"), self._payloads[(0, 2)])
        # an empty committed folder in the middle of a shallow table
        second = self.tables[self.shallow[1]]
        self._land_folder(second, empty=True)
        self._land_folder(second)
        second.watermark = second.next_ts
        # a folder past the watermark on the deep table poll 0 touches
        self._land_folder(self.tables[self.deep[0]])

    def _write_manifest(self) -> None:
        manifest = {}
        for name, table in self.tables.items():
            first_ts: dict[str, int] = {}
            for folder in table.folders:
                first_ts.setdefault(folder.fingerprint, folder.ts)
            manifest[name] = {
                "lastSuccessfulWriteTimestamp": str(table.watermark),
                "totalProcessedRecordsCount": 0,
                # every other table gets a trailing slash (normalized away)
                "dataFilesPath": table.data_dir + ("/" if table.index % 2 else ""),
                "schemaHistory": {fp: str(ts) for fp, ts in first_ts.items()},
            }
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, self.manifest_path)

    def touched(self, poll: int) -> list[str]:
        """The tables poll ``poll`` changes."""
        shallow = [self.shallow[(SHALLOW_PER_POLL * poll + k) % SHALLOW_TABLES] for k in range(SHALLOW_PER_POLL)]
        return sorted([self.deep[poll % DEEP_TABLES], *shallow])

    def land(self, poll: int) -> list[str]:
        """Land poll ``poll``'s folders and publish the manifest; returns
        the tables whose committed state the poll must change."""
        names = self.touched(poll)
        for name in names:
            table = self.tables[name]
            self._land_folder(table)
            table.watermark = table.next_ts
        # still being written: committed by the next poll, which touches it
        self._land_folder(self.tables[self.deep[(poll + 1) % DEEP_TABLES]])
        self._write_manifest()
        return names

    # -- expectations --------------------------------------------------------

    def expected(self, name: str) -> Expected:
        table = self.tables[name]
        generations = dict(table.fingerprints)
        committed = [f for f in table.folders if f.ts <= table.watermark and f.files]
        latest = committed[-1].fingerprint
        files = frozenset(p for f in committed if f.fingerprint == latest for p in f.files)
        schema = tuple((c, s) for c, _, s in _schema_columns(generations[latest]))
        return Expected(files, schema, len(committed))
