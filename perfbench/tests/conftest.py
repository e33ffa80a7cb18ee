import os
import sys

# the benchmark is imported as the package ``perfbench`` from the repository root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
