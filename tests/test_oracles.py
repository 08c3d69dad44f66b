"""oracle_sql() is a pure function of the code: two fresh interpreters
build byte-identical oracle texts, every query has one, and building
them writes no files."""

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DUMP = (
    "import json, __spark_entry__ as m; o = m.oracle_sql(); "
    "print(json.dumps({'oracles': o, 'queries': sorted(m.queries())}, sort_keys=True))"
)


def _tmp_phash_files():
    return {f for f in os.listdir(tempfile.gettempdir()) if f.startswith("tee_phash_oracle_")}


def test_oracle_sql_is_identical_across_processes():
    before = _tmp_phash_files()
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _DUMP], cwd=REPO, stdout=subprocess.PIPE, text=True
        )
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=300)[0] for p in procs]
    assert [p.returncode for p in procs] == [0, 0]
    assert outs[0] == outs[1]
    dump = json.loads(outs[0])
    assert set(dump["oracles"]) == set(dump["queries"])
    assert _tmp_phash_files() <= before
