#!/usr/bin/env bash
# Static-check + test gate — the analog of the reference CI's `mix check`
# (mix.exs:31-35: format + credo --strict + dialyzer + test).
#
#   1. syntax        python -m compileall  (parse every file)
#   2. lint          tools/lint.py         (ruff-core rules; uses ruff
#                                           itself when installed)
#   3. tests         pytest tests/ + the benchmark's determinism tests
#                    (perfbench/test_generators.py)
#
# Usage: tools/check.sh [--no-tests]
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== syntax (compileall) =="
python -m compileall -q trike_spark tests tools perfbench __spark_entry__.py bench.py

echo "== lint =="
if python -m ruff --version >/dev/null 2>&1; then
    python -m ruff check trike_spark tests tools __spark_entry__.py bench.py
else
    python tools/lint.py
fi
if python -m mypy --version >/dev/null 2>&1; then
    echo "== types (mypy) =="
    python -m mypy trike_spark
fi

if [[ "${1:-}" != "--no-tests" ]]; then
    echo "== tests =="
    python -m pytest tests/ -q
    python -m pytest perfbench/test_generators.py -q
fi
echo "CHECK OK"
