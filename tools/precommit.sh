#!/bin/sh
# Fast doc-drift and dead-code gates (no Spark jobs). Installed as
# .git/hooks/pre-commit so a registry edit can never be committed without
# regenerated docs.
cd "$(git rev-parse --show-toplevel)" || exit 1
python3 -m pytest tests/test_driver_contract.py -q || {
  echo "pre-commit: driver-contract gates failed — run tools/sync_docs.py to regenerate README counts and REGISTRY.md; remove unused imports; fold an optional parameter that no call sets to a value other than its default (a literal equal to the default, or the module constant it names, does not count) into its function body" >&2
  exit 1
}
