"""Which engine entry points the traced run wraps, and the per-layer
numbers computed from their spans. Layers are named after the engine's
modules (``table``, ``table.keyindex``, ``table.manifest``, ...)."""

from __future__ import annotations

import os

from measure import median


def install_table(tracer) -> None:
    """Spans around the table layer's public entry points; counts are
    attached after each span has closed, so they are not timed."""
    from moonlink_spark.table import keyindex
    from moonlink_spark.table.fs import LocalFS
    from moonlink_spark.table.manifest import ManifestStore
    from moonlink_spark.table.table import MoonlinkTable

    def staged(sp, args, kwargs, result):
        # rows handed to the table while a CDC apply is open around it
        rows = args[1] if len(args) > 1 else kwargs.get("rows", [])
        for s in tracer.open_spans():
            if s.name == "ingest.cdc_apply":
                s.attrs["staged"] = s.attrs.get("staged", 0) + len(rows)

    tracer.wrap(MoonlinkTable, "append_rows", "table.append_rows", after=staged)
    tracer.wrap(MoonlinkTable, "delete_rows", "table.delete_rows", after=staged)

    def commit_diff(sp, args, kwargs, version):
        t = args[0]
        m = t.manifest
        old = t.store.read(m.parent)
        old_data = {f.path for f in old.data_files}
        old_dv = {f.path for f in old.delete_files}
        new_data = [f for f in m.data_files if f.path not in old_data]
        new_dv = [f for f in m.delete_files if f.path not in old_dv]
        sp.attrs.update(
            files=len(new_data), dv_files=len(new_dv),
            bytes=sum(f.bytes for f in new_data + new_dv),
        )

    tracer.wrap(MoonlinkTable, "commit", "table.commit", after=commit_diff)

    def planned(sp, args, kwargs, df):
        # the files the plan reads are listed after the run ends, so only
        # the planning call itself is timed
        sp.attrs["df"] = df
        sp.attrs["data_dir"] = os.path.join(args[0].data_path, "data")
        sp.attrs["snapshot_files"] = len(args[0].manifest.data_files)

    for name in ("scan", "scan_keys", "scan_where"):
        tracer.wrap(MoonlinkTable, name, f"table.{name}", after=planned)

    def candidates(sp, args, kwargs, result):
        m = args[1]
        total = len(m.data_files) + len(kwargs.get("extra_files") or [])
        if result is not None and total:
            matching, uncovered = result
            sp.attrs["frac"] = (len(set(matching)) + len(uncovered)) / total

    tracer.wrap(keyindex, "candidate_files", "table.keyindex.lookup",
                after=candidates)
    tracer.wrap(keyindex, "build_entries", "table.keyindex.build")

    def manifest_bytes(sp, args, kwargs, result):
        store, manifest = args[0], args[1]
        sp.attrs["bytes"] = os.path.getsize(store._path(manifest.version))

    tracer.wrap(ManifestStore, "commit", "table.manifest.commit",
                after=manifest_bytes)
    tracer.wrap(ManifestStore, "read", "table.manifest.read")
    # the file-system calls vacuum is made of
    for name in ("listdir", "unlink", "rmtree"):
        tracer.wrap(LocalFS, name, f"table.fs.{name}")


def _med_dur(tracer, name: str) -> tuple[float, str] | None:
    durs = [s.dur for s in tracer.by_name(name)]
    return (median(durs), "s") if durs else None


def table_metrics(tracer, table) -> dict[str, tuple]:
    """Table-layer numbers from the spans ``install_table`` made; the
    snapshot counts are of ``table``'s latest snapshot."""
    out: dict[str, tuple] = {}
    for name in ("table.commit", "table.scan", "table.scan_keys",
                 "table.scan_where", "table.keyindex.lookup",
                 "table.keyindex.build", "table.manifest.commit"):
        v = _med_dur(tracer, name)
        if v:
            out[f"{name}_s"] = v
    commits = tracer.by_name("table.commit")
    for key, attr, unit in (("table.files_written", "files", "count"),
                            ("table.dv_files_written", "dv_files", "count"),
                            ("table.bytes_written", "bytes", "bytes")):
        out[key] = (sum(s.attrs.get(attr, 0) for s in commits), unit)
    m = table.manifest
    out["table.snapshot_files"] = (len(m.data_files), "count")
    out["table.snapshot_dv_files"] = (len(m.delete_files), "count")
    fracs = []
    for name in ("table.scan", "table.scan_keys", "table.scan_where"):
        for s in tracer.by_name(name):
            df = s.attrs.pop("df", None)
            if df is None or not s.attrs["snapshot_files"]:
                continue
            read = {f for f in df.inputFiles() if s.attrs["data_dir"] in f}
            fracs.append(len(read) / s.attrs["snapshot_files"])
    if fracs:
        out["table.files_opened_frac"] = (median(fracs), "ratio")
    cands = [s.attrs["frac"] for s in tracer.by_name("table.keyindex.lookup")
             if "frac" in s.attrs]
    if cands:
        out["table.keyindex.candidate_frac"] = (median(cands), "ratio")
    mbytes = [s.attrs["bytes"] for s in tracer.by_name("table.manifest.commit")]
    if mbytes:
        out["table.manifest.bytes"] = (sum(mbytes), "bytes")
    return out
