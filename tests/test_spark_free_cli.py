"""The governance CLI stays Spark-free: importing it, and running the
commands that need no live schema, loads none of the Spark stack.

Checked in a fresh interpreter, because this test process may already have
pyspark loaded (the ``spark`` fixture, other test modules)."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from perfbench import meshgen

ROOT = Path(__file__).resolve().parent.parent
HEAVY = ("pyspark", "py4j", "numpy", "pandas", "pyarrow")

_SCRIPT = """
import json, sys
heavy, commands = json.loads(sys.argv[1])
loaded = lambda: [m for m in heavy if m in sys.modules]
from dbt_meshify_spark.cli import cli
seen = {"import": loaded()}
for name, args in commands.items():
    cli.main(args=args, prog_name="dbt-meshify-spark", standalone_mode=False)
    seen[name] = loaded()
print(json.dumps(seen))
"""


def test_governance_commands_load_no_spark(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    info = meshgen.generate(a, 1, 8, 15)
    meshgen.generate(b, 1, 8, 15)
    meshgen.generate(c, 1, 8, 15)
    mono_a, cons_a, mono_b = a / "monolith", a / "consumer", b / "monolith"
    commands = {
        "add-contract": ["operation", "add-contract", "-r",
                         "-s", f"path:models/{info['contract_domain']}",
                         "--project-path", str(mono_a)],
        "version": ["version", "-s", info["version_model"],
                    "--project-path", str(mono_a)],
        "split": ["split", f"{info['split_domain']}_proj",
                  "-s", f"+path:models/{info['split_domain']}",
                  "--read-catalog", "--project-path", str(mono_b)],
        "connect": ["connect", "--project-paths", str(mono_a),
                    "--project-paths", str(cons_a)],
        # contracts from target/catalog.json
        "group": ["group", info["contract_domain"],
                  "-s", f"path:models/{info['contract_domain']}",
                  "--owner-name", "x", "-r", "--project-path", str(c / "monolith")],
    }
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, json.dumps([HEAVY, commands])],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    seen = json.loads(out.splitlines()[-1])
    assert seen == {step: [] for step in ["import", *commands]}
