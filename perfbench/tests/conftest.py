import os
import sys

# the benchmark's modules import each other by bare name (run.py puts its
# own directory first on sys.path); do the same for the tests
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
