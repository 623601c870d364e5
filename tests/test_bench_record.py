"""bench.py's record contract, no JVM: the full record (per-query
timings included) goes to a file, and the last stdout line carries
metric/value/unit first plus the scalars, short enough for a reader
that keeps only a 2000-byte tail of stdout."""
from __future__ import annotations

import json

import bench


def test_emit_prints_short_scalar_line_and_writes_full_record(tmp_path, monkeypatch, capsys):
    path = tmp_path / "last_run.json"
    monkeypatch.setattr(bench, "LAST_RUN", str(path))
    queries = {f"q{i:02d}_some_contract_query_name": 1.234 + i for i in range(44)}
    out = {
        "metric": "cdc_replay_events_per_sec", "value": 123456.7, "unit": "events/sec",
        "queries": queries, "reps": 3, "query_stat": "median", "sf": 0.1,
        "total_query_sec": 99.9, "ann_recall": {"recall": 0.97, "pairs": 1234},
        "corpus_prep_sec": 4.2, "corpus_prep_docs": 5000, "corpus_prep_docs_per_sec": 1190.5,
        "replay_events": 8_000_000, "replay_docs": 800_000, "replay_merge_sec": 12.3,
        "events_per_sec_merge": 650_000.0, "replay_dataflow_sec": 8.1,
        "events_per_sec_dataflow": 987_654.3,
        "calibration": {"pre": {"cpu_burn_sec": 1.0, "mem_stream_sec": 2.0},
                        "post": {"cpu_burn_sec": 1.1, "mem_stream_sec": 2.1}},
        "phase_probe_sec": [0.5, 0.6, 0.55, 0.52], "phase_dispersion": 1.2,
        "headline_x_mem_stream": 1_300_000.0, "cpus": 4, "driver_mem": "7g",
    }
    assert len(json.dumps(out)) > 2000  # the whole record would not fit a 2000-byte tail

    bench.emit(out)

    last = capsys.readouterr().out.splitlines()[-1]
    assert len(last.encode()) < 1024
    line = json.loads(last)
    assert list(line)[:3] == ["metric", "value", "unit"]
    assert line["corpus_prep_docs_per_sec"] == 1190.5
    assert not any(isinstance(v, (dict, list)) for v in line.values())
    assert json.loads(path.read_text()) == out
