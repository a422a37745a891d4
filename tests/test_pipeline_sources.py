from __future__ import annotations

from syslog_ng_spark.config import run_conf, run_pipeline


def _syslog_lines(n: int) -> list[str]:
    """n messages `v=<i>`: i >= n/2 at severity err, the rest at info."""
    return [f"<{11 if i >= n // 2 else 14}>Jan  5 03:04:05 h app[1]: v={i}"
            for i in range(n)]


def _msgs(spark, path) -> list[str]:
    return sorted(r["value"] for r in spark.read.text(str(path)).collect())


def test_end_to_end_file_pipeline(spark, tmp_path):
    """source(file) → parser(syslog) → filter(severity) → destination(parquet),
    the reference's canonical log path, end to end."""
    lines = [
        "<11>Jan  5 03:04:05 web-01 app[77]: disk failure imminent",
        "<30>Jan  5 03:04:06 web-02 cron[12]: job ok",
        "<11>Jan  5 03:04:07 web-01 app[78]: disk failure imminent",
    ]
    (tmp_path / "in.log").write_text("\n".join(lines))
    run_pipeline(spark, {
        "source": {"kind": "file", "path": str(tmp_path / "in.log")},
        "steps": [{"op": "parse-syslog", "year": 2024},
                  {"op": "filter-severity", "max": "err"}],
        "destination": {"kind": "parquet", "path": str(tmp_path / "out")},
    })
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 2
    assert set(r.host for r in back.collect()) == {"web-01"}


def test_junction_and_split(spark, tmp_path):
    """flags(final) + flags(fallback) split a source into its matched
    and unmatched halves; a junction's channels union back into one
    path."""
    (tmp_path / "in.log").write_text("\n".join(_syslog_lines(10)) + "\n")
    hi, lo, merged = tmp_path / "hi", tmp_path / "lo", tmp_path / "merged"
    head = f"""
source s {{ file("{tmp_path}/in.log"); }};
destination d_hi {{ file("{hi}" template("$MSG\\n")); }};
destination d_lo {{ file("{lo}" template("$MSG\\n")); }};
destination d_merged {{ file("{merged}" template("$MSG\\n")); }};
"""
    run_conf(spark, head + """
log { source(s); filter { level(err..emerg); }; destination(d_hi); flags(final); };
log { source(s); destination(d_lo); flags(fallback); };
""")
    assert _msgs(spark, hi) == [f"v={i}" for i in range(5, 10)]
    assert _msgs(spark, lo) == [f"v={i}" for i in range(5)]
    frames = run_conf(spark, head + """
log { source(s);
      junction {
        channel { filter { level(err..emerg); }; };
        channel { filter { level(debug..warning); }; };
      };
      destination(d_merged); };
""")
    assert frames[0].count() == 10
    assert _msgs(spark, merged) == sorted(f"v={i}" for i in range(10))
