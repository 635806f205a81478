"""Run ``webextract.serve.ExtractServer`` on an ephemeral port in its own
process: prints the port on the first line of stdout, serves until its
stdin closes, then shuts the server down.

    python3 perfbench/server.py
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from webextract.serve import ExtractServer  # noqa: E402


def main() -> None:
    server = ExtractServer(port=0)
    print(server.start(), flush=True)
    sys.stdin.read()
    server.close()


if __name__ == "__main__":
    main()
