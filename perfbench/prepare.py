"""Build one workload's inputs and expected outputs into a directory.

    python3 perfbench/prepare.py payroll 7 4000x2000 <dir>
    python3 perfbench/prepare.py registry 7 15000 <dir>

Writes the generated inputs (gen.py), the oracle's expected outputs
(oracle.py) and finally a DONE marker, so an interrupted build is
rebuilt rather than reused.
"""

from __future__ import annotations

import os
import pickle
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import oracle  # noqa: E402


def main(argv: list[str]) -> int:
    kind, seed, size, out = argv[0], int(argv[1]), argv[2], argv[3]
    if kind == "registry":
        gen.build_registry(out, seed, int(size))
        with open(os.path.join(out, "expected_registry.pkl"), "wb") as f:
            pickle.dump(oracle.registry_expected(out, list(gen.REGISTRY_MIX)), f)
    else:
        n_pua, n_cert = (int(x) for x in size.split("x"))
        paths = gen.build_payroll(out, seed, n_pua, n_cert)
        oracle.write_expected(os.path.join(out, "expected_pua.csv"), *oracle.pua_expected(paths))
        oracle.write_expected(os.path.join(out, "expected_cpa.csv"), *oracle.cpa_expected(paths))
    open(os.path.join(out, "DONE"), "w").close()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
