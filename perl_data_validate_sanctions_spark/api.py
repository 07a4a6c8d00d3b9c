"""Drop-in facade mirroring the reference's public API
(/root/reference/lib/Data/Validate/Sanctions.pm) so a user of
``Data::Validate::Sanctions`` can switch: same methods, same verdict
shape, Spark underneath.

    v = SanctionsValidator(spark, sanction_path="/data/entries.parquet")
    v.is_sanctioned("Sergei", "Ivanov")                 # -> 0/1
    v.get_sanctioned_info(first_name="Zaki", last_name="Ahmad",
                          date_of_birth="1999-01-05")
    # -> {"matched": 1, "list": "...", "matched_args": {...}, "comment": None}
    v.update_data(new_entries_df)   # merge/diff semantics (U1)
    v.last_updated(); v.data(); v.export_data(path)

A query screens one person, as the reference does, and is answered on
the driver. The entries dimension is loaded lazily and cached,
mirroring the reference's throttled ``_load_data`` (Sanctions.pm:29,
321-352): reload only when the snapshot path mtime advances.

The screening index is prepared once per loaded snapshot, as the
reference builds its ``_index`` once per ``_load_data``: the API holds
the :class:`~.operators.matcher.DimSnapshot` of the frame ``_load_data``
returns, the one the caption matchers read for that frame. Its name
rows and postings are collected to the driver when a query first needs
them, and the API takes another only when the frame changes (mtime
advance, ``update_data``); a runner on another frame releases only the
broadcast. The probe is a local relation (:func:`~.session.local_frame`)
whose normalisation projection Catalyst folds on the driver;
:func:`~.operators.matcher.match_probes` judges its candidates in
Python, so a warm call submits no Spark job.
"""

from __future__ import annotations

import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .operators.matcher import DimSnapshot, match_probes
from .schema import ENTRY_SCHEMA, PROBE_SCHEMA
from .session import local_frame
from .sources.synth import synth_entries

IGNORE_OPERATION_INTERVAL = 8 * 60  # Sanctions.pm:29


class SanctionsValidator:
    def __init__(
        self,
        spark: SparkSession,
        sanction_path: str | None = None,
        entries: DataFrame | None = None,
    ):
        self.spark = spark
        self.sanction_path = sanction_path or os.environ.get("SANCTION_FILE")
        self._entries = entries
        self._state: DataFrame | None = None
        self._last_load = 0.0
        self._last_mtime = 0.0
        self._index: DimSnapshot | None = None

    # --- data lifecycle (Sanctions.pm:321-352, 52-90) ---

    def _load_data(self) -> DataFrame:
        if self._entries is not None and (
            time.time() - self._last_load < IGNORE_OPERATION_INTERVAL
        ):
            return self._entries
        if self.sanction_path and os.path.exists(self.sanction_path):
            mtime = os.path.getmtime(self.sanction_path)
            if self._entries is None or mtime > self._last_mtime:
                self._entries = self.spark.read.schema(ENTRY_SCHEMA).parquet(
                    self.sanction_path
                )
                self._last_mtime = mtime
        elif self._entries is None:
            # bundled default (the reference ships share/sanctions.yml)
            self._entries = synth_entries(self.spark)
        self._last_load = time.time()
        return self._entries

    def data(self) -> DataFrame:
        return self._load_data()

    def _probe_index(self) -> DimSnapshot:
        """The snapshot of the frame ``_load_data`` returns, replaced (and
        the previous one dropped) only when that frame changes."""
        entries = self._load_data()
        if self._index is None or self._index.entries is not entries:
            self._index = DimSnapshot.of(entries)
        return self._index

    # --- state persistence (the Redis.pm per-source {updated, verified,
    #     error} hashes, kept as a tiny parquet beside the snapshot) ---

    @property
    def _state_path(self) -> str | None:
        return self.sanction_path + ".state" if self.sanction_path else None

    def _load_state(self) -> DataFrame | None:
        if self._state is not None:
            return self._state
        sp = self._state_path
        if sp and os.path.exists(sp):
            self._state = self.spark.read.parquet(sp)
        return self._state

    def _publish_parquet(
        self, df: DataFrame, path: str, keep_versions: int = 2
    ) -> DataFrame:
        """Crash-safe publish: write a versioned directory, then swap a
        symlink into place (rename(2) over a symlink is atomic — the
        analog of the reference's rename() over the YAML file,
        Sanctions.pm:384-395). Readers that open ``path`` after the swap
        see the new version; readers still mid-scan on an earlier
        version (or a pre-swap DataFrame re-executing its plan on task
        retry) keep a valid directory because the newest
        ``keep_versions`` version dirs are RETAINED — GC is deferred to
        later publishes, never done at swap time. A crash leaves either
        the old or the new version live, plus at worst orphaned version
        dirs that the next publish collects.

        One caveat is inherent: migrating a legacy plain-dir snapshot
        to the symlink scheme cannot be a single rename(2) (a symlink
        can't be renamed over a non-empty directory), so that one
        publish has a two-syscall window where ``path`` is absent; the
        old dir is kept as a retained version throughout. Every
        subsequent publish is single-rename atomic."""
        import glob
        import shutil

        version = f"{path}.v{time.time_ns()}"
        df.write.mode("overwrite").parquet(version)
        tmp_link = f"{path}.lnk.tmp"
        if os.path.lexists(tmp_link):
            os.remove(tmp_link)
        os.symlink(os.path.abspath(version), tmp_link)
        if os.path.isdir(path) and not os.path.islink(path):
            # legacy plain-dir snapshot: move it aside — it becomes a
            # retained version (readable throughout), never rmtree'd
            os.rename(path, f"{path}.v{time.time_ns()}")
        os.rename(tmp_link, path)  # atomic: replaces file/symlink
        # deferred GC: drop all but the newest keep_versions versions;
        # the live target is always protected. glob.escape guards paths
        # containing glob metacharacters (unescaped they'd match nothing
        # → no GC → unbounded disk growth); ordering parses the
        # monotonic v<time_ns> suffix the name already embeds — mtime is
        # fragile (rename-preserved/restored dirs can misorder and GC a
        # version a retained reader still holds).
        live = os.path.realpath(path)

        def _vns(v: str) -> int:
            try:
                return int(v.rsplit(".v", 1)[1])
            except ValueError:
                return -1  # malformed suffix sorts oldest

        versions = sorted(
            (v for v in glob.glob(glob.escape(path) + ".v*")
             if os.path.isdir(v)),
            key=_vns,
            reverse=True,
        )
        for stale in versions[max(keep_versions, 1):]:
            if os.path.realpath(stale) != live:
                shutil.rmtree(stale, ignore_errors=True)
        return self.spark.read.schema(df.schema).parquet(path)

    def update_data(
        self,
        fetched_entries: DataFrame,
        now: int | None = None,
        updated_by_source: dict[str, int] | None = None,
        errors_by_source: dict[str, str] | None = None,
    ) -> DataFrame:
        """Per-source merge/diff (U1): replace sources whose updated
        timestamp or entry count changed; record/clear per-source
        errors; stamp ``verified``; persist both the entries snapshot
        and the per-source state table. Returns the decision table.

        ``updated_by_source`` carries the feeds' publish epochs (the
        parsers' ``updated`` return); ``errors_by_source`` marks feeds
        whose fetch/parse failed (their old content is KEPT and the
        error recorded, Sanctions.pm:59-66)."""
        from pyspark.sql import functions as F

        from .streaming.incremental import merge_source_states, source_state

        current = self._load_data()
        cur_state = self._load_state()
        if cur_state is None:
            cur_state = source_state(current)
        new_state = source_state(fetched_entries)
        # a source fetched WITHOUT a publish stamp keeps its current
        # epoch (the reference's `//= 0` default applies to never-seen
        # sources only, Sanctions.pm:59): otherwise an identical
        # unstamped re-fetch reads as updated-changed (0 != stored
        # epoch), spuriously replacing the source and resetting its
        # persisted publish epoch to 0
        cur_epochs = cur_state.select(
            "source", F.col("updated").alias("__cur_updated")
        )
        new_state = (
            new_state.join(cur_epochs, "source", "left")
            .withColumn(
                "updated",
                F.when(
                    F.col("updated") == 0,
                    F.coalesce("__cur_updated", F.col("updated")),
                ).otherwise(F.col("updated")),
            )
            .drop("__cur_updated")
        )
        if updated_by_source:
            pairs = [x for kv in updated_by_source.items() for x in kv]
            stamp = F.coalesce(
                F.create_map(*[F.lit(x) for x in pairs])[F.col("source")],
                F.col("updated"),
            )
            new_state = new_state.withColumn("updated", stamp.cast("long"))
        if errors_by_source:
            # an errored feed contributes no entry rows, so its state
            # row must be synthesized for the merge to record the error
            err_rows = local_frame(
                self.spark,
                [(s, 0, 0, None, msg) for s, msg in errors_by_source.items()],
                "source string, updated long, n_entries long, "
                "content_hash string, error string",
            )
            new_state = new_state.filter(
                ~F.col("source").isin(list(errors_by_source))
            ).unionByName(err_rows)
        decisions = merge_source_states(cur_state, new_state, now=now)

        # materialize driver-side BEFORE the snapshot swap: the decision
        # plan reads the OLD parquet version, which the swap deletes
        rows = decisions.collect()
        decisions = local_frame(self.spark, rows, decisions.schema)
        take = [r["source"] for r in rows if r["take_new"]]
        if take:
            kept = current.filter(~F.col("source").isin(take))
            new = fetched_entries.filter(F.col("source").isin(take))
            self._entries = kept.unionByName(new)
            if self.sanction_path:
                self._entries = self._publish_parquet(
                    self._entries, self.sanction_path
                )
                self._last_mtime = os.path.getmtime(self.sanction_path)
        self._state = decisions.drop("changed", "take_new")
        if self._state_path:
            self._state = self._publish_parquet(self._state, self._state_path)
        return decisions

    def last_updated(self, source: str | None = None) -> int | None:
        """max(updated) across sources, or the named source's updated
        epoch (Sanctions.pm:92-102). 0 for data that has never been
        through update_data (the reference's default for a missing
        field); None for an unknown source."""
        from pyspark.sql import functions as F

        from .streaming.incremental import last_updated as _lu

        state = self._load_state()
        if state is None:
            from .streaming.incremental import source_state

            state = source_state(self._load_data())
        if source:
            row = state.filter(F.col("source") == source).select(
                "updated"
            ).collect()
            return int(row[0]["updated"]) if row else None
        m = _lu(state)
        return int(m) if m is not None else None

    def source_status(self) -> DataFrame:
        """Per-source (source, updated, n_entries, error, verified) —
        the Redis backend's reader-visible staleness/error view
        (Redis.pm:66-88). Derived (updated=0, no verified) until the
        first update_data persists real state."""
        state = self._load_state()
        if state is None:
            from pyspark.sql import functions as F

            from .streaming.incremental import source_state

            state = source_state(self._load_data()).withColumn(
                "verified", F.lit(None).cast("long")
            )
        return state

    def export_data(self, path: str) -> None:
        """S13 (Sanctions.pm:439-443): dump the dataset."""
        self._load_data().write.mode("overwrite").parquet(path)

    # --- queries (Sanctions.pm:124-126, 217-319) ---

    def get_sanctioned_info(self, *args: Any, **kwargs: Any) -> dict:
        """Positional (first, last, dob) or keyword args per the
        reference's two calling conventions."""
        fields = {f: None for f in PROBE_SCHEMA.fieldNames()}
        fields["probe_id"] = "probe"
        if args:
            for k, v in zip(("first_name", "last_name", "date_of_birth"), args):
                fields[k] = None if v is None else str(v)
        for k, v in kwargs.items():
            if k not in fields:
                raise TypeError(f"unknown argument {k!r}")
            fields[k] = None if v is None else str(v)
        probe = local_frame(
            self.spark,
            [tuple(fields[f] for f in PROBE_SCHEMA.fieldNames())],
            PROBE_SCHEMA,
        )
        row = (
            match_probes(probe, self._probe_index())
            .select("verdict")
            .collect()[0]["verdict"]
        )
        out = {"matched": row["matched"]}
        if row["matched"]:
            out["list"] = row["list"]
            out["comment"] = row["comment"]
            out["matched_args"] = {
                k: v
                for k, v in row["matched_args"].asDict().items()
                if v is not None
            }
        return out

    def is_sanctioned(self, *args: Any, **kwargs: Any) -> int:
        return self.get_sanctioned_info(*args, **kwargs)["matched"]
