import os
import sys

# The benchmark's modules live one directory up and are run as scripts.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
