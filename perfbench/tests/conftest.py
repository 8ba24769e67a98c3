import os
import sys

# the benchmark's modules sit in perfbench/, beside this directory
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
